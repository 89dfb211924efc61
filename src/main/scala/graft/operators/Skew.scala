package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for equi-joins (100 TB guardrail). When one join key
  * carries a disproportionate share of the fact rows, the single reducer
  * owning that key becomes the job's critical path. Salting shards the hot
  * key: fact rows get a deterministic salt in [0, S), the (smaller) build
  * side is replicated S times, and the join key becomes (key, salt) — the
  * hot key's rows spread over S reducers. The result set is IDENTICAL to
  * the unsalted join, which is exactly what the oracle checks.
  *
  * When to reach for it: both sides too large to broadcast AND key skew
  * beyond what AQE's skew-join splitting handles (AQE splits oversized
  * partitions of a shuffle join, but a single giant KEY cannot be split
  * without salting). For broadcast-able dims, `broadcast()` already
  * sidesteps skew entirely.
  */
object Skew {

  /** Salted inner equi-join of `fact` with `dim` on `factKey = dimKey`.
    *
    * @param saltSource fact-side expression providing per-row entropy for
    *                   the salt (e.g. the fact's unique id); deterministic,
    *                   so re-runs produce identical partitioning
    * @param salt       shard fan-out S — the hot key spreads over S reducers;
    *                   dim-side rows replicate ×S (keep S modest, 8-32)
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, saltSource: Column, salt: Int): DataFrame = {
    require(salt > 0, "salt fan-out must be positive")
    val saltedFact = fact.withColumn("__salt", pmod(hash(saltSource), lit(salt)))
    val repDim = dim
      .withColumn("__salt", explode(array((0 until salt).map(lit(_)): _*)))
      .withColumnRenamed(dimKey, factKey)
    saltedFact.join(repDim, Seq(factKey, "__salt")).drop("__salt")
  }

  /** Hot-key diagnostics — the measurement that DECIDES when saltedJoin
    * (or a bigger AQE skew threshold) is worth it: per-key row counts for
    * the heaviest `topK` keys, each with its corpus share
    * (`pct_x10000` = div(10⁴·count, total)) and its skew factor
    * (`skew_x100` = div(100·count·partitions, total) — how many times one
    * average reducer's load this single key is at the given shuffle
    * fan-out; ≥ 100 means the key alone overflows a reducer and a plain
    * keyed shuffle will hot-spot no matter how many partitions you add).
    *
    * Scale: one keyed count with map-side partials, a TakeOrdered top-k
    * cut (count desc, key asc — deterministic), and a one-row total
    * broadcast back. Never sorts the full key-frequency table.
    */
  def hotKeys(df: DataFrame, keyCol: String, topK: Int,
      partitions: Int): DataFrame = {
    require(topK > 0, "hotKeys: topK must be positive")
    require(partitions > 0, "hotKeys: partitions must be positive")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.orderBy(col("cnt").desc, col("key")).limit(topK)
      .crossJoin(broadcast(total))
      .select(col("key"), col("cnt"),
        expr("div(10000 * cnt, total)").as("pct_x10000"),
        expr(s"div(100 * cnt * $partitions, total)").as("skew_x100"))
  }

  /** Exact heavy hitters (items with frequency strictly above total/k) in
    * two bounded passes — the Misra–Gries two-pass scheme: pass 1 keeps a
    * (k−1)-counter MG summary PER PARTITION (each summary provably
    * contains every item whose partition share exceeds 1/k, and an item
    * above 1/k globally must be above 1/k in at least one partition —
    * pigeonhole), pass 2 recounts ONLY the candidate union exactly and
    * applies the threshold. The candidate set depends on the partition
    * layout; the exact recount makes the OUTPUT independent of it.
    *
    * Where this beats `hotKeys`: hotKeys' keyed count carries the FULL
    * distinct-key cardinality through the shuffle and aggregation state —
    * fine for user ids, fatal for web-scale token streams (billions of
    * distinct keys for a 30-row answer). Here memory is (k−1) counters ×
    * partitions, the candidate set is ≤ (k−1)·P rows broadcast back, and
    * pass 2's partial aggregation sends at most |candidates| rows per map
    * task into the shuffle. Two linear scans are the price (the published
    * two-pass trade); at 100 TB that is still strictly cheaper than one
    * scan plus a billion-key shuffle.
    *
    * The tiny pass-1 summary is eagerly `localCheckpoint`ed: its tree
    * feeds two plan branches (candidates + total) that would otherwise
    * each rescan the input, turning two passes into three.
    *
    * Output: (keyCol, cnt, pct_x10000 = div(10⁴·cnt, total)) for every key
    * with cnt·k > total. Keys are compared as strings (cast on entry).
    *
    * NULL keys are EXCLUDED — dropped on entry, before either pass, so they
    * count toward neither the candidates nor the total (the same rows an
    * equi-join or a non-null GROUP BY key would drop). A stream with a
    * frequent NULL key should impute a real sentinel value upstream if that
    * mass matters; silently folding NULL into the summary protocol is how
    * the previous encoding (NULL key = partition-total row) made a frequent
    * NULL unfindable by construction.
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, "heavyHitters: k must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val cap = k - 1
    val keys = df.select(col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull).as[String]
    // Pass 1: per-partition MG summaries, plus one flagged row carrying the
    // partition's row count (so the total needs no extra scan). The total
    // rides its own is_total flag — not an in-band magic key value — so the
    // summary encoding cannot collide with any real key.
    val summary = keys.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { x =>
        n += 1
        counters.get(x) match {
          case Some(c) => counters.update(x, c + 1)
          case None if counters.size < cap => counters.update(x, 1L)
          case None =>
            // classic MG decrement-all step; O(cap) but amortized O(1)
            // per element (every decrement repays one prior increment)
            counters.keys.toArray.foreach { kk =>
              val c = counters(kk)
              if (c == 1L) { counters.remove(kk); () }
              else counters.update(kk, c - 1L)
            }
        }
      }
      counters.keysIterator.map(kk => (kk, 0L, false)) ++
        Iterator((null: String, n, true))
    }.toDF("key", "w", "is_total")
      .transform(ArtifactStore.eagerCheckpoint(_, "mg_summary"))
    val candidates = summary.filter(!col("is_total"))
      .select("key").distinct()
    val total = summary.filter(col("is_total"))
      .agg(sum(col("w")).as("total"))
    // Pass 2: exact recount of candidates only — the broadcast semi-side
    // filters non-candidates map-side, so the shuffle carries at most
    // |candidates| keys' partials, never the full distinct-key set.
    df.select(col(keyCol).cast("string").as("key"))
      .join(broadcast(candidates), Seq("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("total"))
      .select(col("key").as(keyCol), col("cnt"),
        expr("div(10000 * cnt, total)").as("pct_x10000"))
  }
}
