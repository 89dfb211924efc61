package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.{Curation, Graph, Layout, Retrieval}

/** Behavioral tests for the retrieval/graph/layout operators (x76–x79) on
  * planted inputs with hand-computed expectations.
  */
class RankLayoutSpec extends SparkSpec with Matchers {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  // ---- BM25 ----

  test("bm25: exact fixed-point score on a hand-computed corpus") {
    // corpus: 2 docs, 4 tokens each -> N=2, sum dl=8, avgdl_x100 = 400.
    val out = Retrieval.bm25(docs(
      1L -> "spark spark fox dog", 2L -> "cat dog fox bird"),
      "doc_id", "text", Seq("spark")).collect()
    out.length shouldBe 1
    val r = out.head
    r.getAs[Long]("doc") shouldBe 1L
    r.getAs[Long]("matched_terms") shouldBe 1L
    r.getAs[Long]("dl") shouldBe 4L
    // df=1, N=2: idf_x1e6 = div(1e6*(4-2+1), 3) = 1000000 -> idf_x1e3 = 1000
    // tf=2: D = 400*(20000 + 120*25) + 120*75*100*4 = 400*23000 + 3600000
    //        = 9200000 + 3600000 = 12800000
    // tfc_x1e6 = div(1e6 * 2 * 220 * 100 * 400, 12800000)
    //          = div(17600000000000, 12800000) = 1375000
    // score_x1e3 = div(1000 * 1375000, 1e6) = 1375
    r.getAs[Long]("score_x1e3") shouldBe 1375L
  }

  test("bm25: rarer terms score higher (idf monotone in df)") {
    val corpus = docs(
      1L -> "rare common pad pad", 2L -> "common pad pad pad",
      3L -> "common pad pad pad", 4L -> "pad pad pad pad")
    val out = Retrieval.bm25(corpus, "doc_id", "text", Seq("rare", "common"))
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("score_x1e3")).toMap
    // doc 1 matches both terms (one rare), docs 2/3 only the common term.
    out(1L) should be > out(2L)
    out(2L) shouldBe out(3L)
    out.contains(4L) shouldBe false
  }

  test("bm25: repeated term raises the score sub-linearly (tf saturation)") {
    val corpus = docs(
      1L -> "hit pad pad pad", 2L -> "hit hit pad pad", 3L -> "hit hit hit pad")
    val s = Retrieval.bm25(corpus, "doc_id", "text", Seq("hit"))
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("score_x1e3")).toMap
    s(1L) should be < s(2L)
    s(2L) should be < s(3L)
    // saturation: the second occurrence adds less than the first.
    (s(3L) - s(2L)) should be < (s(2L) - s(1L))
  }

  test("bm25: exact in the region where int64 tfc arithmetic overflowed") {
    // tf=50000, avgdl_x100=3e6 -> the old int64 numerator is 3.3e21 (wraps
    // negative); the decimal(38,0) restaging must produce the exact
    // hand-computed quotient. D = 3e6*(5e8+3000) + 9e5*5e4
    //   = 1,500,054,000,000,000; tfc_x1e6 = div(3.3e21, D) = 2,199,920;
    // idf_x1e3 = 1000 (df=1, N=2); score_x1e3 = 2199.
    val big = ("hit " * 50000).trim
    val filler = ("pad " * 10000).trim
    val out = Retrieval.bm25(docs(1L -> big, 2L -> filler),
      "doc_id", "text", Seq("hit")).collect()
    out.length shouldBe 1
    out.head.getAs[Long]("score_x1e3") shouldBe 2199L
  }

  test("bm25: reserved-column clash rejected") {
    val bad = docs(1L -> "x").withColumn("tf", lit(1))
    an[IllegalArgumentException] should be thrownBy
      Retrieval.bm25(bad, "doc_id", "text", Seq("x"))
  }

  // ---- PageRank ----

  private def edges(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("src", "dst")
  }

  test("pageRank: 2-cycle is symmetric and conserves mass") {
    val out = Graph.pageRank(edges(1L -> 2L, 2L -> 1L), "src", "dst",
      iterations = 3).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_x1e12")).toMap
    out(1L) shouldBe out(2L)
    // r0 = S/2; each superstep maps r -> 0.15*S/2 + 0.85*r (full mass
    // passes around the cycle), whose fixed point is S/2 — so ranks stay
    // at S/2 up to integer-floor loss.
    out(1L) shouldBe 500000000000L +- 5L
  }

  test("pageRank: star hub outranks leaves; sink keeps base rank") {
    // 1..4 -> 5 (hub); hub has no out-edges (dangling sink).
    val e = edges(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L)
    val out = Graph.pageRank(e, "src", "dst", iterations = 3).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("outdeg"), r.getAs[Long]("rank_x1e12")))
    val byNode = out.map(t => t._1 -> t._3).toMap
    out.find(_._1 == 5L).get._2 shouldBe 0L // dangling: outdeg 0
    byNode(5L) should be > byNode(1L)
    byNode(1L) shouldBe byNode(2L)
    // leaves have no in-edges: rank = base = div(15 * div(S,5), 100)
    byNode(1L) shouldBe (15L * (1000000000000L / 5L) / 100L)
  }

  test("pageRank: empty or all-self-loop edge lists fail fast with a clear message") {
    the[IllegalArgumentException] thrownBy
      Graph.pageRank(edges(1L -> 1L), "src", "dst") should have message
      "requirement failed: pageRank: edge list has no non-self-loop edges — nothing to rank"
  }

  test("pageRank: deterministic across input partitioning, dedups multi-edges") {
    val e = edges(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L)
    val a = Graph.pageRank(e, "src", "dst").orderBy("node").collect().toSeq
    val b = Graph.pageRank(e.repartition(7), "src", "dst").orderBy("node")
      .collect().toSeq
    a shouldBe b
    // 1 -> {2,3} deduped: outdeg 2
    a.find(_.getAs[Long]("node") == 1L).get.getAs[Long]("outdeg") shouldBe 2L
  }

  test("pageRank and personalizedPageRank release each superseded rank table") {
    import spark.implicits._
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 2L)
    val seeds = Seq(1L).toDF("node")
    // persistent RDDs a run leaves behind (the IngestJobBudgetSpec
    // observable): the same for 5 supersteps as for 2, because each
    // step frees the rank table it replaces. Every job start holds the
    // RDDs then persisted, so the context cleaner cannot unpersist an
    // unreleased one that became garbage before it is counted.
    def pinned(run: => DataFrame): Int = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val held = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
      val hold = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { held.add(sc.getPersistentRDDs); () }
      }
      sc.addSparkListener(hold)
      try {
        val out = run
        out.collect()
        val n = (sc.getPersistentRDDs.keySet -- before).size
        held.add(out)
        n
      } finally sc.removeSparkListener(hold)
    }
    pinned(Graph.pageRank(e, "src", "dst", iterations = 5)) shouldBe
      pinned(Graph.pageRank(e, "src", "dst", iterations = 2))
    pinned(Graph.personalizedPageRank(e, "src", "dst", seeds, iterations = 5)) shouldBe
      pinned(Graph.personalizedPageRank(e, "src", "dst", seeds, iterations = 2))
  }

  // ---- Z-order ----

  test("triangleCount: K4 corners count 3 each; stars, dups, loops contribute nothing") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, every corner in 3) + a 5-leaf star at
    // 100 (zero triangles) + a duplicate edge, a reversed duplicate, and
    // a self-loop — all of which the canonicalization must absorb
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (100L, 101L), (100L, 102L), (100L, 103L), (100L, 104L), (100L, 105L),
      (2L, 1L), (1L, 2L), (7L, 7L)
    ).toDF("a", "b")
    val out = Graph.triangleCount(edges, "a", "b")
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    out.toSeq shouldBe Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    // two triangles sharing an edge: {1,2,3} + {2,3,5} — the shared edge
    // (2,3) must close both wedges, corners 2/3 count 2 each
    val shared = Graph.triangleCount(Seq(
        (1L, 2L), (1L, 3L), (2L, 3L), (2L, 5L), (3L, 5L)).toDF("a", "b"),
      "a", "b").orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    shared.toSeq shouldBe Seq(1L -> 1L, 2L -> 2L, 3L -> 2L, 5L -> 1L)
  }

  test("clusteringCoefficient: closed triangle scores 1.0, open path scores 0, deg-1 excluded") {
    import spark.implicits._
    // triangle {1,2,3} (cc = 1e6 each) + open path 10-11-12 (middle node
    // deg 2, no triangle -> cc 0) + pendant 20-21 (both deg 1, excluded)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    val out = Graph.clusteringCoefficient(edges, "a", "b")
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      (1L, 2L, 1L, 1000000L), (2L, 2L, 1L, 1000000L), (3L, 2L, 1L, 1000000L),
      (11L, 2L, 0L, 0L))
  }

  test("mortonKey: known interleavings") {
    import spark.implicits._
    val df = Seq((1L, 0L), (0L, 1L), (3L, 3L), (255L, 0L), (0L, 255L))
      .toDF("a", "b")
      .select(Layout.mortonKey(col("a"), col("b"), bits = 8).as("z"))
    df.collect().map(_.getLong(0)).toSeq shouldBe
      Seq(2L, 1L, 15L, 43690L, 21845L)
  }

  test("clusterByZ: cells are rectangles bounded in both dimensions") {
    import spark.implicits._
    val pts = (0 until 4096).map(i => (i.toLong % 64, i.toLong / 64))
      .toDF("ub", "db")
    val cells = Layout.clusterByZ(pts, col("ub"), col("db"), bits = 8,
        numPartitions = 4)
      .groupBy(expr("div(zkey, 16)").as("cell")) // 16 keys/cell = 4x2... per cell
      .agg((max("ub") - min("ub")).as("wa"), (max("db") - min("db")).as("wb"))
      .collect()
    // a 16-key Z-curve segment spans a 4x4 tile: both widths <= 3.
    all(cells.map(_.getAs[Long]("wa"))) should be <= 3L
    all(cells.map(_.getAs[Long]("wb"))) should be <= 3L
  }

  test("ringAssign: total assignment, stable under shard growth for most keys") {
    import spark.implicits._
    val keys = (1L to 400L).toDF("k")
    val a = Layout.ringAssign(keys, "k", shards = 8).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Int]("shard")).toMap
    // total function into [0, 8)
    a.values.toSet.subsetOf((0 until 8).toSet) shouldBe true
    a.size shouldBe 400
    val b = Layout.ringAssign(keys, "k", shards = 10).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Int]("shard")).toMap
    val moved = (1L to 400L).count(k => a(k) != b(k))
    // consistent hashing: growth 8 -> 10 moves roughly 2/10 of keys —
    // far below the ~9/10 mod-hashing would move (allow generous slack)
    moved.toDouble / 400 should be < 0.45
  }

  test("shardMovement: ring rebalance beats mod-hash reshuffle") {
    import spark.implicits._
    val keys = (1L to 500L).toDF("k")
    val r = Layout.shardMovement(keys, "k", fromShards = 8, toShards = 10)
      .collect().head
    r.getAs[Long]("total") shouldBe 500L
    r.getAs[Long]("ring_moved") should be < r.getAs[Long]("mod_moved")
    r.getAs[Long]("ring_pct_x10000") should be < 4500L
  }

  test("clusterByZ: zkey clash rejected") {
    import spark.implicits._
    val bad = Seq((1L, 2L, 3L)).toDF("a", "b", "zkey")
    an[IllegalArgumentException] should be thrownBy
      Layout.clusterByZ(bad, col("a"), col("b"))
  }

  // ---- Leakage-safe split ----

  test("leakageSafeSplit: near-dup clusters land in one split") {
    import spark.implicits._
    val corpus = docs(
      1L -> "aa", 2L -> "bb", 3L -> "cc", 4L -> "dd", 5L -> "ee", 6L -> "ff")
    val pairs = Seq((1L, 2L), (2L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Curation.leakageSafeSplit(corpus, "doc_id", pairs,
      valPct = 20, testPct = 30).collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Long]("canonical_id"),
        r.getAs[String]("split")))
    val byDoc = out.map(t => t._1 -> t._3).toMap
    // cluster {1,2,4} shares canonical 1 and one split; {5,6} likewise.
    out.filter(t => Set(1L, 2L, 4L).contains(t._1)).map(_._2).toSet shouldBe Set(1L)
    Set(byDoc(1L), byDoc(2L), byDoc(4L)).size shouldBe 1
    Set(byDoc(5L), byDoc(6L)).size shouldBe 1
    all(out.map(_._3)) should (be("train") or be("val") or be("test"))
  }

  test("leakageSafeSplit: bad percentages rejected") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    an[IllegalArgumentException] should be thrownBy
      Curation.leakageSafeSplit(docs(1L -> "x"), "doc_id", pairs, 60, 50)
  }
}
