package graft

import org.scalatest.matchers.should.Matchers

import graft.operators.{Curation, Dedup}

/** Planted-input tests for time-scoped dedup and token-budget
  * waterfilling (x85/x86).
  */
class BudgetDedupSpec extends SparkSpec with Matchers {

  test("timeScopedDedup: bursts drop, refreshes keep, per-digest bursts count up") {
    import spark.implicits._
    // same content at t=0,5,8 (one burst with horizon 10), refresh at t=50,
    // its echo at t=55; different content at t=3.
    val rows = Seq(
      (1L, "A", 0L), (2L, "A", 5L), (3L, "A", 8L),
      (4L, "A", 50L), (5L, "A", 55L), (6L, "B", 3L))
      .toDF("id", "text", "t")
    val out = Dedup.timeScopedDedup(rows, "id", "text", "t", horizonUs = 10L)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("burst"),
        r.getAs[Boolean]("keep"))).toSeq
    out shouldBe Seq(
      (1L, 0L, true), (2L, 0L, false), (3L, 0L, false),
      (4L, 1L, true), (5L, 1L, false), (6L, 0L, true))
  }

  test("timeScopedDedup: gap semantics — a slow drip never refreshes") {
    import spark.implicits._
    // sightings every 8 < horizon 10: one long burst, only the first kept.
    val rows = (0 until 5).map(i => (i.toLong, "X", i * 8L)).toDF("id", "text", "t")
    val out = Dedup.timeScopedDedup(rows, "id", "text", "t", 10L)
      .collect()
    out.count(_.getAs[Boolean]("keep")) shouldBe 1
    out.map(_.getAs[Long]("burst")).toSet shouldBe Set(0L)
  }

  test("tokenBudget: waterfilling caps the large sources at the exact level") {
    import spark.implicits._
    // masses: a=2, b=4, c=10, d=20 (1 token per doc row); budget 16.
    // ascending: a(2) b(4) c(10) d(20); binding at c: prefix=6, r=2,
    // 6+2*10=26>16 -> level = (16-6)/2 = 5 -> alloc a=2 b=4 c=5 d=5.
    val docs = (Seq.fill(2)("a") ++ Seq.fill(4)("b") ++ Seq.fill(10)("c") ++
      Seq.fill(20)("d")).zipWithIndex
      .map { case (s, i) => (s, s"tok$i") }
      .toDF("source", "text")
    val out = Curation.tokenBudget(docs, "source", "text", budgetTokens = 16L)
      .orderBy("source").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("tokens"),
        r.getAs[Long]("allocated"), r.getAs[Long]("rate_x10000"))).toSeq
    out shouldBe Seq(
      ("a", 2L, 2L, 10000L), ("b", 4L, 4L, 10000L),
      ("c", 10L, 5L, 5000L), ("d", 20L, 5L, 2500L))
    out.map(_._3).sum should be <= 16L
  }

  test("tokenBudget: budget covering the corpus caps nothing") {
    import spark.implicits._
    val docs = Seq(("a", "one two"), ("b", "three")).toDF("source", "text")
    val out = Curation.tokenBudget(docs, "source", "text", budgetTokens = 100L)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("allocated"), r.getAs[Long]("rate_x10000"))).toMap
    out("a") shouldBe ((2L, 10000L))
    out("b") shouldBe ((1L, 10000L))
  }

  test("tokenBudget: zero budget allocates zero everywhere") {
    import spark.implicits._
    val docs = Seq(("a", "one two"), ("b", "three")).toDF("source", "text")
    val out = Curation.tokenBudget(docs, "source", "text", budgetTokens = 0L)
      .collect()
    all(out.map(_.getAs[Long]("allocated"))) shouldBe 0L
  }

  test("shingleContainment: a quoted excerpt fires containment where Jaccard stays low") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon"
    val long = ("zero one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen ") + short
    val docs = Seq((1L, short), (2L, long), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val out = Dedup.shingleContainment(docs, "doc_id", "text",
      shingleSize = 3, thresholdPct = 80).collect()
    out.length shouldBe 1
    val r = out.head
    (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) shouldBe ((1L, 2L))
    r.getAs[Long]("containment_pct") shouldBe 100L
    // and the symmetric Jaccard on the same pair is far below 0.5:
    Dedup.ngramJaccard(docs, "doc_id", "text", n = 12, threshold = 0.5)
      .collect().length shouldBe 0
  }

  test("shingleContainment/ngramJaccard: flooded stop-features are pruned, distinctive overlap still pairs") {
    import spark.implicits._
    // 10 docs share the same boilerplate header (every one of its shingles
    // floods past maxBucket=5); docs 1 and 2 additionally share a
    // distinctive sentence. With the guard, the header shingles generate
    // ZERO candidates — only (1,2) surfaces, via its rare shingles — and
    // its containment is still computed on the FULL sets.
    val header = "standard license header apply terms here now"
    val rows = (1L to 10L).map { i =>
      val tail =
        if (i <= 2) "unique quick zebra jumps gracefully tonight"
        else s"filler$i noise$i word$i pad$i extra$i more$i"
      (i, s"$header $tail")
    }.toDF("doc_id", "text")
    val contained = Dedup.shingleContainment(rows, "doc_id", "text",
      shingleSize = 3, thresholdPct = 50, maxBucket = 5L).collect()
    contained.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet shouldBe
      Set((1L, 2L))
    // full-set verification: both docs have the same shingle count, all shared
    contained.head.getAs[Long]("containment_pct") shouldBe 100L
    val jac = Dedup.ngramJaccard(rows, "doc_id", "text",
      n = 12, threshold = 0.5, maxBucket = 5L).collect()
    jac.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet shouldBe
      Set((1L, 2L))
  }

  // m × 10 near-duplicate docs that share `header` and differ only in a
  // 3-digit tail (every feature they share floods past maxBucket = 5), plus
  // m genuine pairs (ids 1000 + 2j, 1001 + 2j) on words no other doc uses.
  private def floodCorpus(m: Int, header: String,
      pair: Int => (String, String)) = {
    import spark.implicits._
    val flood = (1 to 10 * m).map(i => (i.toLong, f"$header $i%03d"))
    val pairs = (0 until m).flatMap { j =>
      val (a, b) = pair(j)
      Seq((1000L + 2 * j, a), (1001L + 2 * j, b))
    }
    (flood ++ pairs).toDF("doc_id", "text")
  }

  private val nato = Seq("alpha bravo charlie delta echo foxtrot",
    "golf hotel india juliet kilo lima", "mike november oscar papa quebec romeo",
    "sierra tango uniform victor whiskey xray")
  private val licence =
    "standard license header terms apply to this document revision two zero"
  private type GuardedOp = (org.apache.spark.sql.DataFrame, Long) => org.apache.spark.sql.DataFrame

  for ((name, header, pair, op) <- Seq[(String, String, Int => (String, String), GuardedOp)](
      ("shingleContainment", licence, j => (nato(j), nato(j)), (df, cap) =>
        Dedup.shingleContainment(df, "doc_id", "text", shingleSize = 3,
          thresholdPct = 50, maxBucket = cap)),
      ("ngramJaccard", licence, j => (nato(j), nato(j)), (df, cap) =>
        Dedup.ngramJaccard(df, "doc_id", "text", n = 12, threshold = 0.5,
          maxBucket = cap)),
      ("editDistanceDedup", "standard title",
        j => (nato(j).take(16), nato(j).take(15) + "z"), (df, cap) =>
        Dedup.editDistanceDedup(df, "doc_id", "text", maxDist = 3,
          gramSize = 6, maxBucket = cap))))
    test(s"$name flood guard: guarded pairs grow with the genuine pairs (1× to 4×), unguarded ones with the flood squared") {
      def pairs(m: Int, cap: Long) = op(floodCorpus(m, header, pair), cap)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      def genuine(m: Int) = (0 until m).map(j => (1000L + 2 * j, 1001L + 2 * j)).toSet
      pairs(1, 5L) shouldBe genuine(1)
      pairs(4, 5L) shouldBe genuine(4)
      // the flood is real: without the guard all C(40, 2) near-dups pair
      pairs(4, Long.MaxValue).size shouldBe 40 * 39 / 2 + 4
    }

  test("batchByLength: per-shard length sort, exact padding accounting") {
    import spark.implicits._
    // one shard (numShards=1): lengths 1,1,2,2,3,3 in batches of 2 ->
    // batches (1,1),(2,2),(3,3): padding 0 everywhere. Random batching
    // could have paired (1,3): padding 2.
    val docs = Seq(
      (1L, "a"), (2L, "b"), (3L, "a b"), (4L, "c d"),
      (5L, "a b c"), (6L, "d e f")).toDF("doc_id", "text")
    val out = Curation.batchByLength(docs, "doc_id", "text",
        batchSize = 2, numShards = 1)
      .orderBy("batch_idx").collect()
      .map(r => (r.getAs[Long]("batch_idx"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("max_tokens"), r.getAs[Long]("padding_tokens"))).toSeq
    out shouldBe Seq((0L, 2L, 1L, 0L), (1L, 2L, 2L, 0L), (2L, 2L, 3L, 0L))
  }

  test("editDistanceDedup: q-gram blocking finds typo pairs, exact distance verifies") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brwon fox"), // transpo: dist 2
      (3L, "a completely different string"), (4L, "the quick brown fox")) // exact: dist 0
      .toDF("doc_id", "title")
    val out = Dedup.editDistanceDedup(docs, "doc_id", "title",
        maxDist = 3, gramSize = 6)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("dist")))
    out.toSeq shouldBe Seq((1L, 2L, 2L), (1L, 4L, 0L), (2L, 4L, 2L))
  }

  test("sortedNeighborhood: neighbors within the rank window pair up, blocks bound candidates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "smith john"), (2L, "smith jon"), (3L, "smith johnny"),
      (4L, "zimmer alex")).toDF("doc_id", "title")
    val out = Dedup.sortedNeighborhood(docs, "doc_id", "title",
        window = 2, maxDist = 3, prefixLen = 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // sort order in block "sm": "smith john"(1) < "smith johnny"(3) < "smith jon"(2)
    // window 2 pairs: (1,3),(1,2),(3,2); dists: john/johnny=2, john/jon=1, johnny/jon=3
    out shouldBe Set((1L, 3L), (1L, 2L), (3L, 2L))
  }

  test("snapshotDiff: classifies added/removed/changed/unchanged by content digest") {
    import spark.implicits._
    val oldSnap = Seq((1L, "same"), (2L, "goes away"), (3L, "edit me")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "same"), (3L, "edited"), (4L, "brand new")).toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    out shouldBe Map(1L -> "unchanged", 2L -> "removed", 3L -> "changed", 4L -> "added")
  }

  test("snapshotDiff: NULL text is presence, not absence") {
    import spark.implicits._
    // id 1: NULL -> NULL (unchanged, null-safe digest compare); id 2:
    // NULL -> text (changed, not 'added'); id 3: text -> NULL (changed,
    // not 'removed'); id 4: NULL only in old (removed).
    val oldSnap = Seq[(Long, String)]((1L, null), (2L, null), (3L, "body"),
      (4L, null)).toDF("doc_id", "text")
    val newSnap = Seq[(Long, String)]((1L, null), (2L, "body"), (3L, null))
      .toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    out shouldBe Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed")
  }
}
