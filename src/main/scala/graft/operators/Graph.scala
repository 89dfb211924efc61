package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis operators over edge-list DataFrames. The iterative
  * join-agg shape here is the Pregel pattern expressed in plain relational
  * operators: ranks live in a (node, rank) table, each superstep is one
  * equi-join with the edge list plus one keyed aggregate, and the loop is
  * driver-side over lazy plans with an explicit materialization barrier per
  * step (same discipline as Similarity.trainCodebook and
  * Dedup.canonicalize — never `iterations` nested corpus scans).
  */
object Graph {

  /** Fixed-point PageRank: `iterations` supersteps of
    *   r₀(v)    = div(S, n)
    *   rₜ₊₁(v) = base + div(d · Σ_{(u,v)∈E} div(rₜ(u), outdeg(u)), 100)
    *   base     = div((100 − d) · div(S, n), 100)
    * with damping `d` = dampingX100 (×100) and rank mass scaled by
    * S = 10¹² so integral division keeps ~12 significant digits. All
    * arithmetic is exact 64-bit integer (S·100 < 2⁶³), so results are
    * bit-identical across engines and partitionings. Mass that flows out
    * of dangling nodes (no out-edges) is dropped, the common simplified
    * formulation; ranks are a centrality ORDERING, not a probability.
    *
    * Input is an edge list; self-loops and duplicate edges are removed.
    * Output: (node, outdeg, rank_x1e12) for every node appearing as a
    * source or destination.
    *
    * Scale (100 TB): each superstep shuffles the edge list once on src
    * (join with ranks) and once on dst (contribution aggregate) — the
    * canonical edge-partitioned PR dataflow; rank state is one slim
    * (node, long) table eagerly checkpointed per step so the final plan
    * embeds NO nested per-iteration subtrees, and lineage stays O(1).
    * Edge dedup is one up-front shuffle reused by the outdeg aggregate.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, dampingX100: Int = 85): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(dampingX100 >= 0 && dampingX100 <= 100,
      "pageRank: dampingX100 must be in [0, 100]")
    val S = 1000000000000L

    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(ArtifactStore.eagerCheckpoint(_, "pagerank_edges"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .transform(ArtifactStore.eagerCheckpoint(_, "pagerank_nodes"))
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val n = nodes.count()
    require(n > 0,
      "pageRank: edge list has no non-self-loop edges — nothing to rank")
    val r0 = S / n
    val base = (100L - dampingX100) * r0 / 100L

    var ranks = nodes.select(col("node"), lit(r0).as("rank"))
    var superseded: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks.join(outdeg, Seq("node")).withColumnRenamed("node", "src"),
          Seq("src"))
        .select(col("dst").as("node"), expr("div(rank, outdeg)").as("c"))
        .groupBy("node").agg(sum(col("c")).as("contrib"))
      val next = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(
            expr(s"div($dampingX100 * contrib, 100)"), lit(0L))).as("rank"))
        .transform(ArtifactStore.eagerCheckpoint(_, "pagerank_step"))
      // Drop the superseded rank snapshot: only the newest checkpoint is
      // ever read again, and without the release a k-iteration run pins
      // k rank tables in the block manager — at graph scale that evicts
      // the edge cache and the supersteps start re-shuffling from scratch.
      superseded.foreach(ArtifactStore.release)
      superseded = Some(next)
      ranks = next
    }
    nodes.join(outdeg, Seq("node"), "left")
      .na.fill(0L, Seq("outdeg"))
      .join(ranks, Seq("node"))
      .select(col("node"), col("outdeg"), col("rank").as("rank_x1e12"))
  }

  /** Personalized PageRank — the seed-set expansion primitive: teleport
    * mass returns only to `seeds`, so rank measures proximity TO THE SEED
    * SET through the link structure ("find everything related to these
    * documents/users"). Same fixed-point arithmetic and superstep
    * dataflow as [[pageRank]]; the only change is the base term —
    * div((100−d)·div(S, |seeds|), 100) for seeds, 0 elsewhere — and the
    * r₀ vector (seeds start with div(S, |seeds|), everything else 0).
    * Non-seed nodes with no inbound path keep rank 0: the expansion
    * frontier is exactly the reachable set.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iterations: Int = 3, dampingX100: Int = 85): DataFrame = {
    require(iterations >= 1, "personalizedPageRank: iterations must be >= 1")
    require(dampingX100 >= 0 && dampingX100 <= 100,
      "personalizedPageRank: dampingX100 must be in [0, 100]")
    val S = 1000000000000L

    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(ArtifactStore.eagerCheckpoint(_, "ppr_edges"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .transform(ArtifactStore.eagerCheckpoint(_, "ppr_nodes"))
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val seedSet = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .join(nodes, Seq("node"))
      .withColumn("__seed", lit(true))
      .transform(ArtifactStore.eagerCheckpoint(_, "ppr_seeds"))
    val nSeeds = seedSet.count()
    require(nSeeds > 0,
      "personalizedPageRank: no seed appears in the edge list's node set")
    val r0 = S / nSeeds
    val base = (100L - dampingX100) * r0 / 100L

    def withSeedBase(contrib: DataFrame, seedVal: Long): DataFrame = nodes
      .join(contrib, Seq("node"), "left")
      .join(seedSet, Seq("node"), "left")
      .select(col("node"),
        (when(col("__seed"), seedVal).otherwise(0L) + coalesce(
          expr(s"div($dampingX100 * contrib, 100)"), lit(0L))).as("rank"))

    var ranks = nodes.join(seedSet, Seq("node"), "left")
      .select(col("node"), when(col("__seed"), r0).otherwise(0L).as("rank"))
    var superseded: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks.join(outdeg, Seq("node")).withColumnRenamed("node", "src"),
          Seq("src"))
        .select(col("dst").as("node"), expr("div(rank, outdeg)").as("c"))
        .groupBy("node").agg(sum(col("c")).as("contrib"))
      val next = ArtifactStore.eagerCheckpoint(
        withSeedBase(contrib, base), "ppr_step")
      superseded.foreach(ArtifactStore.release)
      superseded = Some(next)
      ranks = next
    }
    nodes.join(ranks, Seq("node"))
      .select(col("node"), col("rank").as("rank_x1e12"))
  }

  /** Bipartite co-engagement projection — the "users who touched the same
    * item" edge list behind co-click embeddings and collaborative
    * filtering: distinct (user, item) incidence, items above
    * `maxUsersPerItem` distinct users DROPPED (the standard popularity
    * guard — a head item connects everyone to everyone, c²/2 pairs of
    * pure noise, exactly the LSH bucket-flood shape maxBucket caps), then
    * the per-item self-join and a pair count, cut to the strongest `topK`
    * edges (shared_items desc, then (u1, u2) asc — deterministic).
    *
    * Scale: the quadratic step is bounded by construction — each
    * surviving item contributes ≤ maxUsersPerItem²/2 pairs — and the cut
    * is TakeOrdered, never a full sort. The guard is a cliff, not a cap:
    * size it from a candidate-pair count (Σ c(c−1)/2 over c ≤ max), the
    * x125 lesson.
    */
  def coEngagement(df: DataFrame, userCol: String, itemCol: String,
      maxUsersPerItem: Int, topK: Int): DataFrame = {
    require(maxUsersPerItem > 1, "coEngagement: maxUsersPerItem must be > 1")
    require(topK > 0, "coEngagement: topK must be > 0")
    val e = df.select(col(userCol).cast("long").as("u"),
        col(itemCol).cast("long").as("item"))
      .filter(col("u").isNotNull && col("item").isNotNull)
      .distinct()
    val kept = e.groupBy(col("item"))
      .agg(count(lit(1)).as("cu"))
      .filter(col("cu") <= maxUsersPerItem)
      .select("item")
    val g = e.join(kept, Seq("item"))
    val pairs = g.select(col("item"), col("u").as("u1"))
      .join(g.select(col("item"), col("u").as("u2")), Seq("item"))
      .filter(col("u1") < col("u2"))
    pairs.groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("shared_items"))
      .orderBy(col("shared_items").desc, col("u1"), col("u2"))
      .limit(topK)
  }

  /** Degree-ordered triangle counting — per-node triangle participation
    * over an undirected edge list (self-loops and duplicates removed),
    * the local-clustering primitive behind community/spam/bot detection
    * on engagement graphs. Output: (node, triangles) for every node in
    * ≥ 1 triangle; each triangle credits all three corners.
    *
    * Scale: the naive wedge join explodes at hubs (a degree-d node
    * contributes d²/2 wedges — the quadratic flood every other operator
    * here guards with a cap). Triangle counting has a better answer
    * than a recall-trading guard: ORIENT each edge from its
    * lower-(degree, id) endpoint to the higher one (a total order, so
    * the orientation is acyclic and deterministic), generate wedges
    * only between OUT-neighbors, and close them with one more join on
    * the oriented edge set. Every node's out-degree under this
    * orientation is O(√m) on ANY graph (a node keeps only edges toward
    * higher-degree endpoints, and there can be at most 2√m nodes of
    * degree ≥ √m), so wedge fan-out is bounded by m — not by the hub's
    * d² — with NO recall loss: each triangle {x<y<z in orientation
    * order} is generated exactly once, as the wedge (x; y, z) closed by
    * the edge y→z. Dataflow: two keyed aggregates (dedup + degrees),
    * three equi-joins — all shuffle-partitionable, never all-pairs.
    *
    * EAGER-MATERIALIZATION CONTRACT (round-16 advisory): constructing
    * the returned frame runs the edge scan/dedup/degree shuffles
    * immediately (`ArtifactStore.eagerCheckpoint`, whose contract it
    * inherits: never construct it speculatively, and the result is
    * lineage-free). Same contract as `clusteringCoefficient`, which
    * shares this path.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // materialize the edge set and degree table ONCE (round 16): the
    // orientation consumes e twice and deg twice, and fully-lazy sharing
    // re-ran the upstream edge construction (scan + lag window + dedup
    // shuffle) once per consumer — x155's pre-fix plan was 601 nodes /
    // 110 exchanges of repeated subtrees. Same discipline
    // clusteringCoefficient already documents for its three readers.
    val e = ArtifactStore.eagerCheckpoint(
      canonicalEdges(edges, srcCol, dstCol), "triangle_edges")
    triangleCountOriented(e,
      ArtifactStore.eagerCheckpoint(degrees(e), "triangle_degrees"))
  }

  /** Undirected edge canonicalization shared by the graph operators:
    * (u < v) long pairs, self-loops and duplicates removed.
    */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()

  /** Degree table (node, dg) over a canonicalized edge set. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))

  /** `triangleCount`'s core over pre-canonicalized edges `e` (u < v,
    * deduped) and their degree table `deg` (node, dg) — factored out so
    * `clusteringCoefficient` can SHARE the edge dedup and degree shuffle
    * it also needs for its own output, instead of recomputing both
    * inside a nested `triangleCount` call (round-10 advisory: the
    * distinct() scan and degree aggregate ran twice per x156).
    */
  private def triangleCountOriented(e: DataFrame, deg: DataFrame): DataFrame = {
    // oriented edge (s → t) with t's order key carried for the wedge cut.
    // NOT materialized: its three readers re-run only the two degree
    // joins over the caller's already-materialized e/deg — measured
    // cheaper at bench scale than an extra eager checkpoint job
    // (x156 0.79 → 0.95 s with o checkpointed, back to ~0.8 without).
    val o = e
      .join(deg.select(col("node").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("t"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("dv").as("d"), col("v").as("n")))
          .otherwise(struct(col("du").as("d"), col("u").as("n")))
          .as("kt"))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.kt") < col("e2.kt"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val tri = wedges.join(o.as("e3"),
        col("b") === col("e3.s") && col("c") === col("e3.t"), "left_semi")
    // ONE pass over the wedge-join output: each triangle credits its
    // three corners via explode — the previous 3-way unionAll re-ran the
    // whole wedge+closure join per corner column (the plan's dominant
    // repeated subtree)
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** Local clustering coefficient — `triangleCount` composed with the
    * degree table: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the "how
    * cliquish is this node's neighborhood" score behind community and
    * bot detection. Emitted ×10⁶ as exact integral division so the
    * oracle comparison is bit-exact; nodes of degree < 2 (coefficient
    * undefined) are excluded, zero-triangle nodes report 0. Output:
    * (node, degree, triangles, cc_x1m), one row per node with
    * degree ≥ 2. Shares `triangleCount`'s canonicalized edge set and
    * degree table through the factored core — both are checkpointed
    * once here because THREE consumers read them (the orientation joins
    * and the output degree join); fully-lazy sharing would re-run the
    * edge dedup and degree shuffle per consumer (AQE turns the output
    * join's small side into a broadcast, which defeats ReusedExchange —
    * the b30 lesson).
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = ArtifactStore.eagerCheckpoint(
      canonicalEdges(edges, srcCol, dstCol), "cc_edges")
    val deg = ArtifactStore.eagerCheckpoint(degrees(e), "cc_degrees")
    deg.filter(col("dg") >= 2)
      .select(col("node"), col("dg").as("degree"))
      .join(triangleCountOriented(e, deg), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        expr("div(1000000 * 2 * coalesce(triangles, 0), degree * (degree - 1))")
          .as("cc_x1m"))
  }
}
