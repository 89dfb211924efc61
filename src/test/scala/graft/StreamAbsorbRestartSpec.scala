package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.Dedup
import graft.streaming.StreamOps

/** Replay and restart semantics for the streaming label drains (x158,
  * `StreamOps.labelAbsorbDrain`; x159, `labelRetractDrain`): the
  * canonical-label artifact
  * must stay exactly-once under BOTH failure classes a foreachBatch
  * sink faces — a replayed micro-batch whose previous attempt COMPLETED
  * (the anti-join against the stored labels must skip it; the index
  * append is not idempotent against a completed absorb), and a drain
  * resumed mid-stream from its checkpoint (only uncommitted files may
  * re-enter). Final labels must equal the full from-scratch rebuild.
  */
class StreamAbsorbRestartSpec extends SparkSpec with Matchers {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("drain resumes from its checkpoint; a replayed completed batch is a no-op; final labels equal the rebuild") {
    def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val u = blk("u", 10); val v = blk("v", 10)
    val z = blk("z", 20); val y = blk("y", 20)
    val corpus = docs(10L -> s"$u $v",
      20L -> s"$u ${v.replace("v5 ", "v5x ")}", 50L -> z)
    // two stream files: f1 brings a keeper-takeover (5 < 10) and a
    // novel doc; f2 extends 50's cluster and starts a stream-only one
    val f1 = docs(5L -> s"$u ${v.replace("v7 ", "v7x ")}",
      80L -> "totally novel content nothing shared with anything here")
    val f2 = docs(65L -> z.replace("z5 ", "z5x "),
      70L -> y, 71L -> y.replace("y5 ", "y5x "))
    val root = java.nio.file.Files.createTempDirectory("graft-sabs").toString
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val streamDir = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(streamDir))
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$root/scratch-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
      ()
    }
    def drain(): Unit = StreamOps.labelAbsorbDrain(spark, streamDir,
      s"$root/ckpt", s"$root/labels", s"$root/idx", "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    def labels() = Dedup.readLabels(spark, s"$root/labels").orderBy("doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq

    // run 1: only f1 exists — the drain absorbs it and stops
    stage("f1", f1)
    drain()
    labels() shouldBe Seq((5L, 5L, true), (10L, 5L, false),
      (20L, 5L, false), (50L, 50L, true), (80L, 80L, true))

    // run 2 after restart: f2 landed — the checkpoint resumes past f1
    // (its docs are NOT double-absorbed) and absorbs only f2
    stage("f2", f2)
    drain()
    val afterAll = labels()
    afterAll shouldBe Seq((5L, 5L, true), (10L, 5L, false),
      (20L, 5L, false), (50L, 50L, true), (65L, 50L, false),
      (70L, 70L, true), (71L, 70L, false), (80L, 80L, true))

    // replay of a COMPLETED batch (crash after absorb, before the
    // checkpoint commit): the direct foreachBatch body re-runs on f2's
    // rows — the stored-labels anti-join must make it a no-op
    StreamOps.absorbLabelBatch(f2, s"$root/labels", s"$root/idx",
      "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    labels() shouldBe afterAll
    // no duplicate signatures in the grown index either
    spark.read.parquet(s"$root/idx/features").groupBy("doc").count()
      .agg(max("count")).head().getLong(0) shouldBe 1L

    // the stream result IS the from-scratch rebuild
    Dedup.buildCanonicalLabels(
      corpus.unionByName(f1).unionByName(f2), "doc_id", "text",
      s"$root/labelsFull", shingleSize = 3, numHashes = 16, bands = 8,
      threshold = 0.5)
    Dedup.readLabels(spark, s"$root/labelsFull").orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq shouldBe afterAll
  }

  test("retract drain resumes from its checkpoint; a replayed takedown is a no-op; final labels equal the rebuild without the retracted ids") {
    def blk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val a = blk("a", 10); val b = blk("b", 10); val c = blk("c", 10)
    val w = blk("w", 20); val z = blk("z", 20); val y = blk("y", 20)
    // {5,10,20} with 5 as keeper AND only bridge, {30,40}, {50,65} with
    // keeper 50, untouched {70,71}, singleton 80
    val corpus = docs(5L -> s"$a $b $c", 10L -> s"$a $b", 20L -> s"$a $c",
      30L -> w, 40L -> w.replace("w5 ", "w5x "),
      50L -> z, 65L -> z.replace("z5 ", "z5x "),
      70L -> y, 71L -> y.replace("y5 ", "y5x "),
      80L -> "lonely island tokens shared with nothing else at all here")
    val root = java.nio.file.Files.createTempDirectory("graft-sret").toString
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$root/labels",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$root/idx",
      shingleSize = 3, numHashes = 16, bands = 8)
    val streamDir = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(streamDir))
    def stage(name: String, ids: Long*): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val df = ids.toDF("doc_id")
      val tmp = s"$root/scratch-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
      df
    }
    def drain(): Unit = StreamOps.labelRetractDrain(spark, streamDir,
      s"$root/ckpt", s"$root/labels", s"$root/idx", "doc_id",
      threshold = 0.5)
    def read(path: String) = Dedup.readLabels(spark, path).orderBy("doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    def rebuildWithout(tag: String, ids: Long*) = {
      Dedup.buildCanonicalLabels(
        corpus.filter(!col("doc_id").isin(ids: _*)), "doc_id", "text",
        s"$root/$tag", shingleSize = 3, numHashes = 16, bands = 8,
        threshold = 0.5)
      read(s"$root/$tag")
    }
    def tombstones() = spark.read.parquet(s"$root/idx/tombstones")
      .select("doc").collect().map(_.getLong(0)).sorted.toSeq

    // run 1: only f1 exists — the bridge/keeper 5 and non-keeper 40 go
    stage("f1", 5L, 40L)
    drain()
    read(s"$root/labels") shouldBe rebuildWithout("full1", 5L, 40L)
    tombstones() shouldBe Seq(5L, 40L)

    // run 2 after restart: the checkpoint resumes past f1 and retracts
    // only f2 (keeper 50 hands off to 65; singleton 80 disappears)
    val f2 = stage("f2", 50L, 80L)
    drain()
    val afterAll = read(s"$root/labels")
    afterAll shouldBe rebuildWithout("full2", 5L, 40L, 50L, 80L)
    afterAll.map(r => r._1 -> r._2).toMap shouldBe Map(10L -> 10L,
      20L -> 20L, 30L -> 30L, 65L -> 65L, 70L -> 70L, 71L -> 70L)

    // replay of a COMPLETED takedown batch (crash after the retract,
    // before the checkpoint commit): the direct foreachBatch body
    // re-runs on f2's ids and changes nothing
    Dedup.retractFromLabels(f2, "doc_id", s"$root/labels", s"$root/idx",
      threshold = 0.5)
    read(s"$root/labels") shouldBe afterAll
    tombstones() shouldBe Seq(5L, 40L, 50L, 80L)
  }
}
