package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef.tbl

/** Classic analytics shapes over the star schema — beyond the reference's
  * own surface (it performs only anti-join/count; SURVEY.md §2.A "not
  * present" list) but the natural companions for a bronze→silver layer, and
  * the bench headliners for scan/agg/join/window throughput. Money is
  * summed as exact integer cents (floor(x*100+0.5) per row) so oracles
  * hash-match.
  */
object AnalyticsQueries {

  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100 + 0.5).cast("long")

  val all: Seq[QueryDef] = Seq(

    // Scan-heavy grouped aggregation (TPC-H Q1 shape): map-side partial
    // aggregation into a 4-group shuffle; projection pruned to 6 columns.
    QueryDef("b01_agg_lineitem",
      (s, d) => tbl(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price_cents"))
        .orderBy("l_returnflag", "l_linestatus"),
      // sum(BIGINT) is HUGEINT in DuckDB — cast back so the dtype-sensitive
      // hash gate sees int64 on both sides (r1: hash_match=false, values equal).
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             |  sum((floor(l_quantity*100 + 0.5))::BIGINT)::BIGINT AS sum_qty_cents,
             |  sum((floor(l_extendedprice*100 + 0.5))::BIGINT)::BIGINT AS sum_price_cents,
             |  sum((floor(l_extendedprice*(1 - l_discount)*100 + 0.5))::BIGINT)::BIGINT AS sum_disc_price_cents
             |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Star join: fact orders ⋈ customer ⋈ nation with the dimension sides
    // broadcast — zero shuffle for the joins, one for the final group.
    QueryDef("b02_join_star",
      (s, d) => tbl(s, d, "orders")
        .join(broadcast(tbl(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("orders"), sum(cents(col("o_totalprice"))).as("revenue_cents"))
        .orderBy("n_name"),
      Some("""SELECT n_name, count(*) AS orders,
             |  sum((floor(o_totalprice*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY n_name""".stripMargin)),

    // Window top-k: top-3 orders per customer by price (single shuffle on
    // the partition key, rank pushdown via WindowGroupLimit).
    QueryDef("b03_window_topk",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        tbl(s, d, "orders")
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("o_custkey"), col("rank"), col("o_orderkey"),
            cents(col("o_totalprice")).as("price_cents"))
          .orderBy("o_custkey", "rank")
      },
      Some("""SELECT o_custkey, rank, o_orderkey, price_cents FROM (
             |  SELECT o_custkey, o_orderkey,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rank,
             |    (floor(o_totalprice*100 + 0.5))::BIGINT AS price_cents
             |  FROM orders)
             |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin)),

    // Multi-way aggregation over the event stream table (batch view).
    QueryDef("b04_events_by_type",
      (s, d) => QueryDef.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("events"),
          countDistinct(col("user_id")).as("users"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS events, count(DISTINCT user_id) AS users,
             |  sum((floor(value*100 + 0.5))::BIGINT)::BIGINT AS sum_cents
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Hierarchical rollup (nation → market segment → grand total): one
    // Expand + single aggregation shuffle; subtotal grouping-key NULLs are
    // coalesced to 'ALL' so the sort is engine-portable (Spark sorts NULLs
    // first, DuckDB last).
    // Via the spark.sql surface: Spark 4.1's DetectAmbiguousSelfJoin
    // misfires on Column-based references above a rollup's Expand (the
    // grouping attrs appear twice with one plan id), so this query runs as
    // SQL where every reference resolves by name.
    QueryDef("b05_rollup_revenue",
      (s, d) => {
        tbl(s, d, "orders").createOrReplaceTempView("b05_orders")
        tbl(s, d, "customer").createOrReplaceTempView("b05_customer")
        tbl(s, d, "nation").createOrReplaceTempView("b05_nation")
        s.sql("""SELECT /*+ BROADCAST(b05_customer), BROADCAST(b05_nation) */
                |  coalesce(n_name, 'ALL') AS nation, coalesce(c_mktsegment, 'ALL') AS segment,
                |  count(*) AS orders,
                |  sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS revenue_cents
                |FROM b05_orders JOIN b05_customer ON o_custkey = c_custkey
                |JOIN b05_nation ON c_nationkey = n_nationkey
                |GROUP BY ROLLUP(n_name, c_mktsegment)
                |ORDER BY nation, segment""".stripMargin)
      },
      Some("""SELECT coalesce(n_name, 'ALL') AS nation, coalesce(c_mktsegment, 'ALL') AS segment,
             |  count(*) AS orders, sum((floor(o_totalprice*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP(n_name, c_mktsegment) ORDER BY nation, segment""".stripMargin)),

    // Set operations: customer cohorts by order year — INTERSECT (active
    // both years) and EXCEPT (churned / new). Distinct-set semantics on
    // both engines; each op is one hash-partitioned shuffle on the key.
    QueryDef("b06_setops_cohorts",
      (s, d) => {
        val o = tbl(s, d, "orders")
        def active(y: Int) =
          o.filter(year(col("o_orderdate")) === y).select("o_custkey").distinct()
        val y96 = active(1996)
        val y97 = active(1997)
        y96.intersect(y97).select(lit("both").as("cohort"), col("o_custkey"))
          .unionByName(y96.except(y97).select(lit("only_1996").as("cohort"), col("o_custkey")))
          .unionByName(y97.except(y96).select(lit("only_1997").as("cohort"), col("o_custkey")))
          .orderBy("cohort", "o_custkey")
      },
      Some("""WITH y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
             |y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
             |SELECT 'both' AS cohort, o_custkey FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
             |UNION ALL SELECT 'only_1996', o_custkey FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
             |UNION ALL SELECT 'only_1997', o_custkey FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y96)
             |ORDER BY cohort, o_custkey""".stripMargin)),

    // Semi join (EXISTS): parts with at least one bulk line item. left_semi
    // keeps the probe side unduplicated — no fan-out, one shuffle (or
    // broadcast of the filtered build side under AQE).
    QueryDef("b07_semijoin_exists",
      (s, d) => tbl(s, d, "part")
        .join(tbl(s, d, "lineitem").filter(col("l_quantity") >= 45),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy("p_brand").agg(count(lit(1)).as("parts"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand, count(*)::BIGINT AS parts
             |FROM part WHERE EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_partkey = p_partkey AND l_quantity >= 45)
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // Scalar-function sampler: date parts, string ops, conditionals, and
    // integer arithmetic — the cross-engine-portable core of the scalar
    // library, all inside one whole-stage-codegen projection.
    QueryDef("b08_scalar_functions",
      (s, d) => tbl(s, d, "orders").filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          substring(col("o_orderpriority"), 1, 1).as("prio1"),
          upper(col("o_orderstatus")).as("status_u"),
          length(col("o_orderpriority")).as("prio_len"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
          expr("coalesce(nullif(o_orderstatus, 'O'), 'OPEN')").as("status_coal"),
          when(col("o_totalprice") >= 200000, "high")
            .when(col("o_totalprice") >= 50000, "mid")
            .otherwise("low").as("bucket"),
          abs(col("o_custkey") - 1000).as("absdiff"),
          ((col("o_orderkey") * 31 + 7) % 1000).as("mixmod"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, year(o_orderdate)::INT AS y, month(o_orderdate)::INT AS m,
             |  day(o_orderdate)::INT AS dom, substr(o_orderpriority, 1, 1) AS prio1,
             |  upper(o_orderstatus) AS status_u, length(o_orderpriority)::INT AS prio_len,
             |  concat(o_orderstatus, '-', o_orderpriority) AS tag,
             |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_coal,
             |  CASE WHEN o_totalprice >= 200000 THEN 'high'
             |       WHEN o_totalprice >= 50000 THEN 'mid' ELSE 'low' END AS bucket,
             |  abs(o_custkey - 1000) AS absdiff, (o_orderkey * 31 + 7) % 1000 AS mixmod
             |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin)),

    // TPC-H Q3 shape (shipping priority): selective dimension filter →
    // two joins → group → global top-10 with full tie-break, so LIMIT is
    // deterministic. TakeOrderedAndProject keeps the top-k merge on the
    // driver O(k), not a full sort.
    QueryDef("b09_tpch_q3_topk",
      (s, d) => tbl(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1997-03-15").cast("timestamp"))
        .join(tbl(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1997-03-15").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
        .select(col("l_orderkey"), col("revenue_cents"), col("o_orderdate"))
        .orderBy(col("revenue_cents").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10),
      Some("""SELECT l_orderkey,
             |  sum((floor(l_extendedprice*(1-l_discount)*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents,
             |  o_orderdate
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-03-15'
             |  AND l_shipdate > TIMESTAMP '1997-03-15'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue_cents DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin)),

    // Exact linear-interpolation quantiles (p25/p50/p75) over integer
    // cents: both engines interpolate lower + frac*(higher-lower) with
    // frac ∈ {0, .25, .5, .75} — exact in binary doubles for integer
    // inputs, so the result hash-matches. (The approximate scale path is
    // percentile_approx/t-digest — same plan shape, no cross-engine twin.)
    QueryDef("b10_quantiles",
      (s, d) => QueryDef.events(s, d)
        .withColumn("v", floor(col("value") * 100 + 0.5).cast("long"))
        .groupBy("event_type")
        .agg(expr("percentile(v, 0.25)").as("p25"),
          expr("percentile(v, 0.5)").as("p50"),
          expr("percentile(v, 0.75)").as("p75"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  quantile_cont((floor(value*100 + 0.5))::BIGINT, 0.25) AS p25,
             |  quantile_cont((floor(value*100 + 0.5))::BIGINT, 0.5) AS p50,
             |  quantile_cont((floor(value*100 + 0.5))::BIGINT, 0.75) AS p75
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Running window frames: per-customer cumulative revenue + previous
    // order (lag) — one shuffle on the partition key, frames evaluated in
    // a single pass over each sorted partition.
    QueryDef("b11_window_running",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        tbl(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            cents(col("o_totalprice")).as("price_cents"))
          .withColumn("running_cents",
            sum("price_cents").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("prev_orderkey", lag("o_orderkey", 1).over(w))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  (floor(o_totalprice*100 + 0.5))::BIGINT AS price_cents,
             |  (sum((floor(o_totalprice*100 + 0.5))::BIGINT) OVER w)::BIGINT AS running_cents,
             |  lag(o_orderkey, 1) OVER w AS prev_orderkey
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Pivot (weekday × event_type matrix): explicit value list so the
    // output schema is static — at scale an inferred pivot would scan the
    // column twice (distinct + pivot). Spark weekday() (0=Monday) twins
    // with DuckDB isodow()-1; conditional-aggregation oracle, no PIVOT
    // dialect dependence.
    QueryDef("b12_pivot_weekday",
      (s, d) => QueryDef.events(s, d)
        .withColumn("wd", weekday(col("ts")))
        .withColumn("v", floor(col("value") * 100 + 0.5).cast("long"))
        .groupBy("event_type")
        .pivot("wd", Seq(0, 1, 2, 3, 4, 5, 6))
        .agg(sum("v"))
        .select(col("event_type") +: (0 to 6).map(i => col(i.toString).as(s"wd$i")): _*)
        .orderBy("event_type"),
      Some(("""SELECT event_type, """ +
        (0 to 6).map(i =>
          s"sum(CASE WHEN isodow(ts)-1 = $i THEN (floor(value*100 + 0.5))::BIGINT END)::BIGINT AS wd$i")
          .mkString(", ") +
        """ FROM events GROUP BY 1 ORDER BY event_type"""))),

    // The approximate scale path: approx_count_distinct keeps O(log n)
    // state per group vs count(DISTINCT)'s full shuffle of distinct pairs;
    // approx_percentile replaces b10's exact sort at unbounded cardinality.
    // The sketches themselves have no cross-engine twin, so the query is
    // SELF-CHECKING: it computes the exact aggregates alongside and emits
    // booleans proving each sketch landed within its published error bound
    // (HLL rsd=0.05 → 3σ=15%; percentile accuracy=1000 → rank error 1e-3,
    // asserted against a ±0.05/±0.02-rank exact bracket). The oracle
    // strict-checks the exact counts and expects every bound to hold.
    // NOT a perf witness: the exact aggregates dominate its runtime, so
    // this entry is deliberately excluded from the Bench headline set —
    // timing it would measure count(DISTINCT), not the O(log n) sketch.
    QueryDef("x23_approx_sketch",
      (s, d) => QueryDef.events(s, d)
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          expr("approx_percentile(value, array(0.5, 0.99), 1000)").as("apcts"),
          expr("percentile(value, array(0.45, 0.55, 0.97, 0.9999))").as("epcts"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.15).as("users_ok"),
          (col("apcts")(0) >= col("epcts")(0) &&
            col("apcts")(0) <= col("epcts")(1)).as("p50_ok"),
          (col("apcts")(1) >= col("epcts")(2) &&
            col("apcts")(1) <= col("epcts")(3)).as("p99_ok"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
             |  TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p99_ok
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Source-format breadth: the engine's readers beyond parquet. Each
    // round-trips the orders projection through a temp dir in the target
    // format with an EXPLICIT schema (no inference pass over the data) and
    // must reproduce the parquet-derived oracle bit for bit — doubles
    // survive because both writers emit shortest-round-trip decimal text
    // (CSV/JSON) or binary (ORC).
    QueryDef("p13_csv_source", (s, d) => roundTrip(s, d, "csv"),
      Some(roundTripOracle)),
    QueryDef("p14_json_source", (s, d) => roundTrip(s, d, "json"),
      Some(roundTripOracle)),
    QueryDef("p15_orc_source", (s, d) => roundTrip(s, d, "orc"),
      Some(roundTripOracle)),

    // Line-text source round-trip: order keys serialized one per line
    // through spark.read/write.text — the log-file ingestion path (every
    // "value" line re-parsed with a cast, count+sum must survive).
    QueryDef("p19_text_source",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-text").toString
        tbl(s, d, "orders").select(col("o_orderkey").cast("string").as("value"))
          .write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(col("value").cast("long").as("k"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"),
            min(col("k")).as("key_min"), max(col("k")).as("key_max"))
      },
      Some("""SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS key_sum,
             |  min(o_orderkey)::BIGINT AS key_min, max(o_orderkey)::BIGINT AS key_max
             |FROM orders""".stripMargin)),

    // Full outer join between two yearly aggregates, zero-filled — the
    // left/right/full outer family with post-join coalesce null handling.
    QueryDef("b13_outer_join",
      (s, d) => {
        val o = tbl(s, d, "orders")
        def yearly(y: Int, out: String) =
          o.filter(year(col("o_orderdate")) === y)
            .groupBy(col("o_custkey").as(s"k$y"))
            .agg(count(lit(1)).as(out))
        yearly(1996, "n96").join(yearly(1997, "n97"),
            col("k1996") === col("k1997"), "full_outer")
          .select(coalesce(col("k1996"), col("k1997")).as("custkey"),
            coalesce(col("n96"), lit(0L)).as("n96"),
            coalesce(col("n97"), lit(0L)).as("n97"))
          .orderBy("custkey")
      },
      Some("""WITH o96 AS (SELECT o_custkey, count(*) AS n96 FROM orders
             |    WHERE year(o_orderdate) = 1996 GROUP BY 1),
             |o97 AS (SELECT o_custkey, count(*) AS n97 FROM orders
             |    WHERE year(o_orderdate) = 1997 GROUP BY 1)
             |SELECT coalesce(o96.o_custkey, o97.o_custkey) AS custkey,
             |  coalesce(n96, 0)::BIGINT AS n96, coalesce(n97, 0)::BIGINT AS n97
             |FROM o96 FULL OUTER JOIN o97 ON o96.o_custkey = o97.o_custkey
             |ORDER BY custkey""".stripMargin)),

    // NULL semantics: nullif introduces NULLs, <=> (null-safe equality,
    // IS NOT DISTINCT FROM) observes them, count(col) skips them. The
    // empty-partition window is fine here (149 rows); at scale a global
    // non-null count is a separate agg joined back, not a window.
    QueryDef("b14_null_semantics",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        tbl(s, d, "orders").filter(col("o_orderkey") % 101 === 0)
          .select(col("o_orderkey"),
            nullif(col("o_orderstatus"), lit("O")).as("status_n"))
          .withColumn("is_null_safe_null",
            col("status_n") <=> lit(null).cast("string"))
          .withColumn("non_null_total",
            count("status_n").over(Window.partitionBy()))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_n,
             |  (nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL) AS is_null_safe_null,
             |  count(nullif(o_orderstatus, 'O')) OVER () AS non_null_total
             |FROM orders WHERE o_orderkey % 101 = 0 ORDER BY o_orderkey""".stripMargin)),

    // CUBE (all 2^2 grouping sets in one Expand + single aggregation
    // shuffle). Via spark.sql for the same DetectAmbiguousSelfJoin reason
    // as b05.
    QueryDef("b15_cube_status_priority",
      (s, d) => {
        tbl(s, d, "orders").createOrReplaceTempView("b15_orders")
        s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                |  coalesce(o_orderpriority, 'ALL') AS priority,
                |  count(*) AS orders,
                |  sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS revenue_cents
                |FROM b15_orders
                |GROUP BY CUBE(o_orderstatus, o_orderpriority)
                |ORDER BY status, priority""".stripMargin)
      },
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
             |  coalesce(o_orderpriority, 'ALL') AS priority,
             |  count(*) AS orders,
             |  sum((floor(o_totalprice*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // Bucketed co-located join: both sides written bucketed on the join
    // key (8 buckets) — Spark's scan reports the hash partitioning, so the
    // join runs shuffle-free (ScaleSpec pins the no-Exchange plan; this
    // query pins the RESULT equals the plain join's).
    QueryDef("p16_bucketed_join",
      (s, d) => {
        tbl(s, d, "orders").select("o_orderkey", "o_custkey").write
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .mode("overwrite").saveAsTable("p16_orders_bucketed")
        tbl(s, d, "customer").select("c_custkey", "c_mktsegment").write
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .mode("overwrite").saveAsTable("p16_customer_bucketed")
        s.table("p16_orders_bucketed")
          .join(s.table("p16_customer_bucketed"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment").agg(count(lit(1)).as("orders"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*)::BIGINT AS orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // Schema evolution (mergeSchema read): generation 1 of a table lacks
    // the price column generation 2 added — the read unions both parquet
    // generations, back-filling NULL. The lakehouse-ops move every
    // long-lived 100 TB table eventually needs.
    QueryDef("p17_schema_evolution",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-schevo").toString
        val o = tbl(s, d, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey")
          .write.mode("overwrite").parquet(s"$tmp/gen1")
        o.filter(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("o_custkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"))
          .write.mode("overwrite").parquet(s"$tmp/gen2")
        s.read.option("mergeSchema", "true").parquet(s"$tmp/gen1", s"$tmp/gen2")
          .select("o_orderkey", "o_custkey", "price_cents")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CASE WHEN o_orderkey % 2 <> 0
             |    THEN (floor(o_totalprice*100 + 0.5))::BIGINT END AS price_cents
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Partition pruning: orders written PARTITIONED BY month, the reader
    // filters one month — the scan must touch only that partition's
    // directory (PlanSpec pins PartitionFilters), the free Catalyst win
    // that turns a 100 TB scan into a 1-partition read.
    QueryDef("p18_partition_pruning",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-partpr").toString
        tbl(s, d, "orders")
          .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
          .write.partitionBy("month").mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).filter(col("month") === "1996-03")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("orders"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*)::BIGINT AS orders,
             |  sum((floor(o_totalprice*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents
             |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'
             |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Bag-semantics set op: EXCEPT ALL keeps multiplicity (a customer with
    // 3 orders in 1996 and 1 in 1997 survives twice), grouped to counts so
    // the output is deterministic.
    QueryDef("b16_except_all",
      (s, d) => {
        val o = tbl(s, d, "orders")
        def yr(y: Int) = o.filter(year(col("o_orderdate")) === y).select("o_custkey")
        yr(1996).exceptAll(yr(1997))
          .groupBy("o_custkey").agg(count(lit(1)).as("n"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS n FROM (
             |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
             |  EXCEPT ALL
             |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
             |GROUP BY 1 ORDER BY o_custkey""".stripMargin)),

    // INTERSECT ALL — the other bag-semantics set op (min of the two
    // multiplicities per value), same grouped-to-counts determinism as b16.
    QueryDef("b19_intersect_all",
      (s, d) => {
        val o = tbl(s, d, "orders")
        def yr(y: Int) = o.filter(year(col("o_orderdate")) === y).select("o_custkey")
        yr(1996).intersectAll(yr(1997))
          .groupBy("o_custkey").agg(count(lit(1)).as("n"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS n FROM (
             |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
             |  INTERSECT ALL
             |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
             |GROUP BY 1 ORDER BY o_custkey""".stripMargin)),

    // Collection aggregation: collect_list is order-nondeterministic by
    // contract, so the portable form is sort_array(collect_list(...)) —
    // rendered to CSV to avoid cross-engine array-representation drift in
    // the comparison (DuckDB's ordered string_agg is the twin).
    QueryDef("b17_collect_sorted",
      (s, d) => tbl(s, d, "customer")
        .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .filter(col("c_custkey") % 11 === 0)
        .groupBy("n_name")
        .agg(count(lit(1)).as("customers"),
          concat_ws(",", sort_array(collect_list(col("c_custkey")))).as("custkey_csv"))
        .orderBy("n_name"),
      Some("""SELECT n_name, count(*) AS customers,
             |  string_agg(c_custkey::VARCHAR, ',' ORDER BY c_custkey) AS custkey_csv
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_custkey % 11 = 0
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Array-function library (split/size/element_at/sort/join/contains) —
    // arrays rendered to scalars so the comparison is representation-free.
    QueryDef("b18_array_functions",
      (s, d) => tbl(s, d, "orders").filter(col("o_orderkey") % 211 === 0)
        .withColumn("parts", split(col("o_orderpriority"), "-"))
        .select(col("o_orderkey"),
          size(col("parts")).as("nparts"),
          element_at(col("parts"), 1).as("part1"),
          array_join(sort_array(col("parts")), "|").as("sorted_joined"),
          array_contains(col("parts"), "URGENT").as("has_urgent"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  len(string_split(o_orderpriority, '-'))::INT AS nparts,
             |  string_split(o_orderpriority, '-')[1] AS part1,
             |  array_to_string(list_sort(string_split(o_orderpriority, '-')), '|') AS sorted_joined,
             |  list_contains(string_split(o_orderpriority, '-'), 'URGENT') AS has_urgent
             |FROM orders WHERE o_orderkey % 211 = 0 ORDER BY o_orderkey""".stripMargin)),

    // Time-range rolling window: per-customer trailing-7-day revenue via a
    // RANGE frame over an exact day offset (integer axis — numeric RANGE
    // frames are engine-portable where interval-literal frames are not).
    // Same single shuffle as any window: partition by customer, sort by
    // day; the frame scan is linear per partition.
    QueryDef("b20_window_range_rolling",
      (s, d) => {
        val o = tbl(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long").as("day"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val w = Window.partitionBy("o_custkey").orderBy(col("day"))
          .rangeBetween(-6, 0)
        o.withColumn("rev7_cents", sum("cents").over(w))
          .orderBy("o_custkey", "day", "o_orderkey")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey,
             |    date_diff('day', DATE '1992-01-01', o_orderdate::DATE)::BIGINT AS day,
             |    (floor(o_totalprice*100 + 0.5))::BIGINT AS cents
             |  FROM orders)
             |SELECT o_custkey, o_orderkey, day, cents,
             |  sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
             |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS rev7_cents
             |FROM o ORDER BY o_custkey, day, o_orderkey""".stripMargin)),

    // TPC-H Q5 shape: the 6-table local-supplier-volume join — region and
    // nation broadcast (tiny), customer/orders/lineitem/supplier hash-join
    // on their keys with the date filter pushed to the orders scan. The
    // same-nation condition (supplier's nation = customer's nation) rides
    // the supplier join. Per-line revenue frozen to cents so the aggregate
    // is exact integer arithmetic.
    QueryDef("b21_tpch_q5",
      (s, d) => {
        val r = tbl(s, d, "region").filter(col("r_name") === "ASIA")
        val n = tbl(s, d, "nation")
        val c = tbl(s, d, "customer")
        val o = tbl(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
            col("o_orderdate") < lit("1998-01-01").cast("date"))
        val l = tbl(s, d, "lineitem")
        val su = tbl(s, d, "supplier")
        broadcast(r).join(broadcast(n), col("n_regionkey") === col("r_regionkey"))
          .join(c, col("c_nationkey") === col("n_nationkey"))
          .join(o, col("o_custkey") === col("c_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .join(su, col("s_suppkey") === col("l_suppkey") &&
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
            .cast("long")).as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  sum((floor(l_extendedprice*(1-l_discount)*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents
             |FROM region r
             |JOIN nation n ON n_regionkey = r_regionkey AND r_name = 'ASIA'
             |JOIN customer c ON c_nationkey = n_nationkey
             |JOIN orders o ON o_custkey = c_custkey
             |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
             |JOIN lineitem l ON l_orderkey = o_orderkey
             |JOIN supplier s ON s_suppkey = l_suppkey AND s_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY revenue_cents DESC, n_name""".stripMargin)),

    // Rank-function family over one window: ntile quartiles, percent_rank
    // and cume_dist (scaled to exact integers — (rank-1)/(n-1) is the same
    // IEEE double in every engine; ×1e6-floor freezes it).
    QueryDef("b22_rank_distribution",
      (s, d) => {
        val c = tbl(s, d, "customer").select(col("c_mktsegment"),
          col("c_custkey"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal_cents"))
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("bal_cents").desc, col("c_custkey"))
        c.select(col("c_mktsegment"), col("c_custkey"), col("bal_cents"),
            ntile(4).over(w).as("quartile"),
            floor(percent_rank().over(w) * 1e6).cast("long").as("pr_x1e6"),
            floor(cume_dist().over(w) * 1e6).cast("long").as("cd_x1e6"))
          .orderBy(col("c_mktsegment"), col("bal_cents").desc, col("c_custkey"))
      },
      Some("""SELECT c_mktsegment, c_custkey,
             |  (floor(c_acctbal*100 + 0.5))::BIGINT AS bal_cents,
             |  ntile(4) OVER win AS quartile,
             |  floor(percent_rank() OVER win * 1e6)::BIGINT AS pr_x1e6,
             |  floor(cume_dist() OVER win * 1e6)::BIGINT AS cd_x1e6
             |FROM customer
             |WINDOW win AS (PARTITION BY c_mktsegment
             |  ORDER BY (floor(c_acctbal*100 + 0.5))::BIGINT DESC, c_custkey)
             |ORDER BY c_mktsegment, bal_cents DESC, c_custkey""".stripMargin)),

    // Correlated scalar subquery (TPC-H Q17 shape): small-lot revenue per
    // brand, where "small" is relative to the PART's own average quantity.
    // Catalyst must DECORRELATE the subquery into a partkey aggregate +
    // equi-join — never a per-row re-scan (pinned in PlanSpec). Quantities
    // are integer-valued doubles, so avg is an exact-sum division and the
    // 0.2× threshold compare is engine-stable.
    QueryDef("b23_correlated_subquery",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b23_lineitem")
        tbl(s, d, "part").createOrReplaceTempView("b23_part")
        s.sql("""SELECT p.p_brand, count(*) AS small_lots,
                |  sum(cast(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)) AS revenue_cents
                |FROM b23_lineitem l JOIN b23_part p ON p.p_partkey = l.l_partkey
                |WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                |  FROM b23_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
                |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin)
      },
      Some("""SELECT p.p_brand, count(*)::BIGINT AS small_lots,
             |  sum((floor(l.l_extendedprice*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents
             |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
             |  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
             |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin)),

    // TPC-H-Q16-shape supplier-variety count: distinct part-supplier links
    // (lineitem stands in for partsupp), NOT IN exclusion of negative-
    // balance suppliers — exercises the null-aware anti-join decorrelation
    // plus a two-level distinct aggregate. Deterministic order by
    // (supplier_cnt DESC, brand, type, size).
    QueryDef("b24_tpch_q16",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b24_lineitem")
        tbl(s, d, "part").createOrReplaceTempView("b24_part")
        tbl(s, d, "supplier").createOrReplaceTempView("b24_supplier")
        s.sql("""SELECT p.p_brand, p.p_type, p.p_size,
                |  count(DISTINCT ps.l_suppkey) AS supplier_cnt
                |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM b24_lineitem) ps
                |JOIN b24_part p ON p.p_partkey = ps.l_partkey
                |WHERE p.p_size <= 15
                |  AND ps.l_suppkey NOT IN (
                |    SELECT s_suppkey FROM b24_supplier WHERE s_acctbal < 0)
                |GROUP BY p.p_brand, p.p_type, p.p_size
                |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin)
      },
      Some("""SELECT p.p_brand, p.p_type, p.p_size,
             |  count(DISTINCT ps.l_suppkey)::BIGINT AS supplier_cnt
             |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
             |JOIN part p ON p.p_partkey = ps.l_partkey
             |WHERE p.p_size <= 15
             |  AND ps.l_suppkey NOT IN (
             |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY p.p_brand, p.p_type, p.p_size
             |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin)),

    // TPC-H-Q18-shape large-volume orders: HAVING-filtered aggregate
    // joined back to orders + customer — the aggregate prunes BEFORE the
    // dimension joins, so only big orders reach them.
    QueryDef("b25_tpch_q18",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b25_lineitem")
        tbl(s, d, "orders").createOrReplaceTempView("b25_orders")
        tbl(s, d, "customer").createOrReplaceTempView("b25_customer")
        s.sql("""SELECT c.c_name, o.o_orderkey, big.sum_qty,
                |  CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS total_cents
                |FROM (SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS sum_qty
                |      FROM b25_lineitem GROUP BY 1
                |      HAVING sum(CAST(l_quantity AS BIGINT)) > 300) big
                |JOIN b25_orders o ON o.o_orderkey = big.l_orderkey
                |JOIN b25_customer c ON c.c_custkey = o.o_custkey
                |ORDER BY sum_qty DESC, o.o_orderkey""".stripMargin)
      },
      Some("""SELECT c.c_name, o.o_orderkey, big.sum_qty::BIGINT AS sum_qty,
             |  (floor(o.o_totalprice*100 + 0.5))::BIGINT AS total_cents
             |FROM (SELECT l_orderkey, sum(l_quantity::BIGINT) AS sum_qty
             |      FROM lineitem GROUP BY 1
             |      HAVING sum(l_quantity::BIGINT) > 300) big
             |JOIN orders o ON o.o_orderkey = big.l_orderkey
             |JOIN customer c ON c.c_custkey = o.o_custkey
             |ORDER BY sum_qty DESC, o.o_orderkey""".stripMargin)),

    // TPC-H-Q19-shape disjunctive-predicate join: OR-of-ANDs mixing both
    // sides' columns — the CNF-extraction test (the common p_partkey =
    // l_partkey conjunct must still drive an equi-join, and the
    // single-side disjuncts should reach the scans).
    QueryDef("b26_tpch_q19",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b26_lineitem")
        tbl(s, d, "part").createOrReplaceTempView("b26_part")
        s.sql("""SELECT count(*) AS matched,
                |  sum(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)) AS revenue_cents
                |FROM b26_lineitem l JOIN b26_part p ON p.p_partkey = l.l_partkey
                |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
                |       AND l.l_quantity BETWEEN 1 AND 11)
                |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
                |       AND l.l_quantity BETWEEN 10 AND 20)
                |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
                |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)
      },
      Some("""SELECT count(*)::BIGINT AS matched,
             |  sum((floor(l.l_extendedprice*100 + 0.5))::BIGINT)::BIGINT AS revenue_cents
             |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
             |       AND l.l_quantity BETWEEN 1 AND 11)
             |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
             |       AND l.l_quantity BETWEEN 10 AND 20)
             |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
             |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H-Q20-shape supplier shortlist: IN over a HAVING-filtered
    // correlated aggregate — the subquery aggregates lineitem per
    // supplier over a part subset, and the planner must decorrelate it
    // into an aggregate + semi join (no per-supplier re-scan).
    QueryDef("b27_tpch_q20",
      (s, d) => {
        tbl(s, d, "supplier").createOrReplaceTempView("b27_supplier")
        tbl(s, d, "lineitem").createOrReplaceTempView("b27_lineitem")
        tbl(s, d, "part").createOrReplaceTempView("b27_part")
        s.sql("""SELECT s_suppkey, s_name
                |FROM b27_supplier
                |WHERE s_suppkey IN (
                |  SELECT l.l_suppkey FROM b27_lineitem l
                |  JOIN b27_part p ON p.p_partkey = l.l_partkey
                |  WHERE p.p_name LIKE '%ring%'
                |  GROUP BY l.l_suppkey
                |  HAVING sum(CAST(l.l_quantity AS BIGINT)) > 2000)
                |ORDER BY s_suppkey""".stripMargin)
      },
      Some("""SELECT s_suppkey, s_name
             |FROM supplier
             |WHERE s_suppkey IN (
             |  SELECT l.l_suppkey FROM lineitem l
             |  JOIN part p ON p.p_partkey = l.l_partkey
             |  WHERE p.p_name LIKE '%ring%'
             |  GROUP BY l.l_suppkey
             |  HAVING sum(l.l_quantity::BIGINT) > 2000)
             |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H-Q21-shape sole-blamed supplier: EXISTS + NOT EXISTS against
    // the same fact table — suppliers whose returned ('R') line sits in a
    // finished multi-supplier order where NO other supplier's line was
    // returned. Both subqueries must become one semi and one anti join on
    // l_orderkey (never per-row re-scans of lineitem).
    QueryDef("b28_tpch_q21",
      (s, d) => {
        tbl(s, d, "supplier").createOrReplaceTempView("b28_supplier")
        tbl(s, d, "lineitem").createOrReplaceTempView("b28_lineitem")
        tbl(s, d, "orders").createOrReplaceTempView("b28_orders")
        s.sql("""SELECT s.s_name, count(*) AS numwait
                |FROM b28_supplier s
                |JOIN b28_lineitem l1 ON l1.l_suppkey = s.s_suppkey
                |JOIN b28_orders o ON o.o_orderkey = l1.l_orderkey
                |WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
                |  AND EXISTS (SELECT 1 FROM b28_lineitem l2
                |    WHERE l2.l_orderkey = l1.l_orderkey
                |      AND l2.l_suppkey <> l1.l_suppkey)
                |  AND NOT EXISTS (SELECT 1 FROM b28_lineitem l3
                |    WHERE l3.l_orderkey = l1.l_orderkey
                |      AND l3.l_suppkey <> l1.l_suppkey
                |      AND l3.l_returnflag = 'R')
                |GROUP BY s.s_name
                |ORDER BY numwait DESC, s_name
                |LIMIT 20""".stripMargin)
      },
      Some("""SELECT s.s_name, count(*)::BIGINT AS numwait
             |FROM supplier s
             |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
             |JOIN orders o ON o.o_orderkey = l1.l_orderkey
             |WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey
             |      AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey
             |      AND l3.l_suppkey <> l1.l_suppkey
             |      AND l3.l_returnflag = 'R')
             |GROUP BY s.s_name
             |ORDER BY numwait DESC, s_name
             |LIMIT 20""".stripMargin)),

    // TPC-H-Q22-shape dormant rich customers: a scalar aggregate
    // threshold plus NOT EXISTS — customers above the positive-balance
    // average with no urgent orders, rolled up per nation. The average
    // comparison is EXACT integer arithmetic (cents·count > total_cents,
    // multiplied through) so no float summation-order drift can flip a
    // boundary row between engines.
    QueryDef("b29_tpch_q22",
      (s, d) => {
        tbl(s, d, "customer").createOrReplaceTempView("b29_customer")
        tbl(s, d, "nation").createOrReplaceTempView("b29_nation")
        tbl(s, d, "orders").createOrReplaceTempView("b29_orders")
        s.sql("""WITH pos AS (SELECT
                |    count(*) AS n,
                |    sum(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) AS total_cents
                |  FROM b29_customer WHERE c_acctbal > 0)
                |SELECT n.n_name AS cntry, count(*) AS numcust,
                |  sum(CAST(floor(c.c_acctbal*100 + 0.5) AS BIGINT)) AS bal_cents
                |FROM b29_customer c
                |JOIN b29_nation n ON n.n_nationkey = c.c_nationkey
                |CROSS JOIN pos
                |WHERE CAST(floor(c.c_acctbal*100 + 0.5) AS BIGINT) * pos.n
                |        > pos.total_cents
                |  AND NOT EXISTS (SELECT 1 FROM b29_orders o
                |    WHERE o.o_custkey = c.c_custkey
                |      AND o.o_orderpriority = '1-URGENT')
                |GROUP BY n.n_name
                |ORDER BY cntry""".stripMargin)
      },
      Some("""WITH pos AS (SELECT
             |    count(*)::BIGINT AS n,
             |    sum((floor(c_acctbal*100 + 0.5))::BIGINT)::BIGINT AS total_cents
             |  FROM customer WHERE c_acctbal > 0)
             |SELECT n.n_name AS cntry, count(*)::BIGINT AS numcust,
             |  sum((floor(c.c_acctbal*100 + 0.5))::BIGINT)::BIGINT AS bal_cents
             |FROM customer c
             |JOIN nation n ON n.n_nationkey = c.c_nationkey
             |CROSS JOIN pos
             |WHERE (floor(c.c_acctbal*100 + 0.5))::BIGINT * pos.n
             |        > pos.total_cents
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |    WHERE o.o_custkey = c.c_custkey
             |      AND o.o_orderpriority = '1-URGENT')
             |GROUP BY n.n_name
             |ORDER BY cntry""".stripMargin)),

    // TPC-H Q15 shape: a quarterly revenue view over the fact table, then
    // the supplier(s) achieving its MAX — the argmax-over-an-aggregate
    // pattern. Q15 literally defines `revenue` as a VIEW, and this plan
    // takes that seriously: the view (one row per active supplier —
    // dimension-sized) is materialized ONCE with an eager localCheckpoint
    // and feeds both the 1-row max and the equality join, so the fact
    // scan happens exactly once by construction. Leaving it declarative
    // would run the whole aggregation subtree twice here: AQE turns the
    // supplier join's consumer into a BroadcastExchange while the max
    // consumes the shuffle, so ReusedExchange never fires (measured at
    // sf0.001 AND sf0.1 — 0 reuses, two lineitem scans). Ties (two
    // suppliers at the same max) both emit, as Q15's = (SELECT max).
    QueryDef("b30_tpch_q15",
      (s, d) => {
        val revenue = tbl(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
            col("l_shipdate") < lit("1996-04-01").cast("date"))
          .groupBy(col("l_suppkey"))
          .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
            .cast("long")).as("total_cents"))
          .transform(graft.operators.ArtifactStore.eagerCheckpoint(_, "b30_revenue"))
        val top = revenue.agg(max(col("total_cents")).as("mx"))
        tbl(s, d, "supplier")
          .join(revenue, col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(top), col("total_cents") === col("mx"))
          .select(col("s_suppkey"), col("s_name"), col("total_cents"))
          .orderBy("s_suppkey")
      },
      Some("""WITH revenue AS (SELECT l_suppkey,
             |    sum((floor(l_extendedprice*(1-l_discount)*100 + 0.5))::BIGINT)::BIGINT
             |      AS total_cents
             |  FROM lineitem
             |  WHERE l_shipdate >= DATE '1996-01-01'
             |    AND l_shipdate < DATE '1996-04-01'
             |  GROUP BY 1)
             |SELECT s_suppkey, s_name, total_cents
             |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
             |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
             |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q2 shape: for each large part, the supplier(s) quoting its
    // MINIMUM price — the per-group min join-back (Q2's correlated
    // `= (SELECT min ...)`, decorrelated by hand into an aggregate +
    // equality join; b23 pins that Catalyst performs the same rewrite
    // on the correlated form). The part filter broadcasts into the fact
    // scan, the per-part min table is dimension-sized and broadcasts
    // back, and DISTINCT collapses equal-price repeat quotes from the
    // same supplier. Ties across suppliers both emit, as in Q2.
    QueryDef("b31_tpch_q2_minquote",
      (s, d) => {
        val pp = tbl(s, d, "part")
          .filter(col("p_size") >= 48).select("p_partkey", "p_name")
        val l = tbl(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_cents"))
        val m = l.join(broadcast(pp.select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey")).agg(min(col("price_cents")).as("min_cents"))
          .select(col("l_partkey").as("m_partkey"), col("min_cents"))
        l.join(broadcast(m),
            col("l_partkey") === col("m_partkey") &&
              col("price_cents") === col("min_cents"))
          .join(broadcast(pp), col("m_partkey") === col("p_partkey"))
          .join(tbl(s, d, "supplier"), col("s_suppkey") === col("l_suppkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"), col("min_cents"))
          .distinct()
          .orderBy("p_partkey", "s_name")
      },
      Some("""WITH pp AS (SELECT p_partkey, p_name FROM part WHERE p_size >= 48),
             |l AS (SELECT l_partkey, l_suppkey,
             |    (floor(l_extendedprice*100 + 0.5))::BIGINT AS price_cents
             |  FROM lineitem),
             |m AS (SELECT l.l_partkey, min(price_cents) AS min_cents
             |  FROM l JOIN pp ON l_partkey = p_partkey GROUP BY 1)
             |SELECT DISTINCT pp.p_partkey, pp.p_name, s.s_name, m.min_cents
             |FROM m
             |JOIN l ON l.l_partkey = m.l_partkey AND l.price_cents = m.min_cents
             |JOIN pp ON pp.p_partkey = m.l_partkey
             |JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |ORDER BY p_partkey, s_name""".stripMargin)),

    // TPC-H Q7 shape: bilateral volume shipping — revenue between two
    // named nations, both directions, by ship year. Both nation dims
    // filter to their 5-customer/supplier slivers BEFORE the fact joins
    // (broadcast), the disjunctive pair condition runs on the joined
    // names, and the year rollup groups a 3-part key. Classic
    // "fact table joined through two different dimension roles".
    QueryDef("b32_tpch_q7",
      (s, d) => {
        val pair = Seq("NATION_1", "NATION_2")
        val sn = tbl(s, d, "nation").filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val cn = tbl(s, d, "nation").filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
        tbl(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
            col("l_shipdate") < lit("1998-01-01").cast("date"))
          .join(tbl(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
          .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
            .cast("long")).as("revenue_cents"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             |  year(l_shipdate)::INT AS l_year,
             |  sum((floor(l_extendedprice*(1-l_discount)*100 + 0.5))::BIGINT)::BIGINT
             |    AS revenue_cents
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |  AND sn.n_name IN ('NATION_1', 'NATION_2')
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation cn ON c_nationkey = cn.n_nationkey
             |  AND cn.n_name IN ('NATION_1', 'NATION_2')
             |WHERE sn.n_name <> cn.n_name
             |  AND l_shipdate >= DATE '1996-01-01'
             |  AND l_shipdate < DATE '1998-01-01'
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // TPC-H Q8 shape: market share — of all ECONOMY-part revenue sold to
    // EUROPE customers per order year, what fraction came from NATION_3
    // suppliers? One aggregation with a conditional sum (no self-join:
    // numerator and denominator are two aggregates of the same rows),
    // share as exact integer ×10⁴.
    QueryDef("b33_tpch_q8",
      (s, d) => {
        val p = tbl(s, d, "part").filter(col("p_type") === "ECONOMY")
          .select("p_partkey")
        val eur = broadcast(tbl(s, d, "region")
            .filter(col("r_name") === "EUROPE"))
          .join(tbl(s, d, "nation"), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cn_key"))
        val sn = tbl(s, d, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        tbl(s, d, "lineitem")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
            col("o_orderdate") < lit("1997-01-01").cast("date"))
          .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(eur), col("c_nationkey") === col("cn_key"))
          .join(tbl(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
          .withColumn("cents",
            floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
              .cast("long"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(sum(col("cents")).as("total_cents"),
            sum(when(col("supp_nation") === "NATION_3", col("cents"))
              .otherwise(0L)).as("nation_cents"))
          .select(col("o_year"), col("total_cents"), col("nation_cents"),
            expr("div(10000 * nation_cents, total_cents)").as("share_x10000"))
          .orderBy("o_year")
      },
      Some("""WITH f AS (SELECT year(o_orderdate)::INT AS o_year,
             |    (floor(l_extendedprice*(1-l_discount)*100 + 0.5))::BIGINT AS cents,
             |    sn.n_name AS supp_nation
             |  FROM lineitem
             |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation cn ON c_nationkey = cn.n_nationkey
             |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation sn ON s_nationkey = sn.n_nationkey
             |  WHERE o_orderdate >= DATE '1995-01-01'
             |    AND o_orderdate < DATE '1997-01-01')
             |SELECT o_year, sum(cents)::BIGINT AS total_cents,
             |  sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)::BIGINT
             |    AS nation_cents,
             |  (10000 * sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)::BIGINT)
             |    // sum(cents)::BIGINT AS share_x10000
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q4 in its literal EXISTS form — the classic semi-join
    // decorrelation: a quarter of orders, kept when ANY lineitem shipped
    // late (> 60 days after the order date — the testdata carries no
    // commit/receipt dates, so lateness is measured against the order
    // date; the correlated predicate still references the OUTER row's
    // date inside the subquery, which is the decorrelation shape the
    // query exists to exercise). The planner must turn the EXISTS into
    // one left-semi join on l_orderkey with the date condition as a
    // join-side filter — never a per-order re-scan of lineitem
    // (PlanSpec pins LeftSemi + no cartesian).
    QueryDef("b34_tpch_q4",
      (s, d) => {
        tbl(s, d, "orders").createOrReplaceTempView("b34_orders")
        tbl(s, d, "lineitem").createOrReplaceTempView("b34_lineitem")
        s.sql("""SELECT o.o_orderpriority, count(*) AS order_count
                |FROM b34_orders o
                |WHERE o.o_orderdate >= DATE '1996-07-01'
                |  AND o.o_orderdate < DATE '1996-10-01'
                |  AND EXISTS (SELECT 1 FROM b34_lineitem l
                |    WHERE l.l_orderkey = o.o_orderkey
                |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
                |GROUP BY o.o_orderpriority
                |ORDER BY o.o_orderpriority""".stripMargin)
      },
      Some("""SELECT o.o_orderpriority, count(*)::BIGINT AS order_count
             |FROM orders o
             |WHERE o.o_orderdate >= DATE '1996-07-01'
             |  AND o.o_orderdate < DATE '1996-10-01'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |    WHERE l.l_orderkey = o.o_orderkey
             |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
             |GROUP BY o.o_orderpriority
             |ORDER BY o.o_orderpriority""".stripMargin)),

    // TPC-H Q17 in its literal form — the correlated SCALAR-subquery
    // shape (b23 exercises the same decorrelation on a different
    // report): small-lot lineitems of one brand+type, where "small" is
    // 20% of THAT PART's average quantity. The planner must decorrelate
    // the scalar avg into one per-partkey aggregate joined back — one
    // pass over lineitem for the averages, not one per probe row. The
    // avg comparison is float-safe cross-engine: quantities are small
    // integers, so the double sum is exact in any aggregation order.
    // avg_yearly follows TPC-H's sum/7.0, as exact integral cents //7.
    QueryDef("b35_tpch_q17",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b35_lineitem")
        tbl(s, d, "part").createOrReplaceTempView("b35_part")
        s.sql("""SELECT count(*) AS small_lots,
                |  div(sum(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)), 7)
                |    AS avg_yearly_cents
                |FROM b35_lineitem l JOIN b35_part p ON p.p_partkey = l.l_partkey
                |WHERE p.p_brand = 'Brand#7' AND p.p_type = 'ECONOMY'
                |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                |    FROM b35_lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
      },
      Some("""SELECT count(*)::BIGINT AS small_lots,
             |  (sum((floor(l.l_extendedprice*100 + 0.5))::BIGINT)::BIGINT // 7)::BIGINT
             |    AS avg_yearly_cents
             |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE p.p_brand = 'Brand#7' AND p.p_type = 'ECONOMY'
             |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
             |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin)),

    // TPC-H Q18 in its literal IN-over-grouped-HAVING form (b25 is the
    // hand-decorrelated join twin): the planner must fold the IN
    // subquery — an aggregate with a HAVING cut — into a semi join
    // against the grouped lineitem, then aggregate the surviving
    // orders. Threshold 290 keeps the shortlist distinct from b25's
    // (>300) so the two plans can't share a cached subtree by accident.
    QueryDef("b36_tpch_q18",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b36_lineitem")
        tbl(s, d, "orders").createOrReplaceTempView("b36_orders")
        tbl(s, d, "customer").createOrReplaceTempView("b36_customer")
        s.sql("""SELECT c.c_name, o.o_orderkey,
                |  sum(CAST(l.l_quantity AS BIGINT)) AS sum_qty,
                |  CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS total_cents
                |FROM b36_customer c
                |JOIN b36_orders o ON c.c_custkey = o.o_custkey
                |JOIN b36_lineitem l ON o.o_orderkey = l.l_orderkey
                |WHERE o.o_orderkey IN (
                |  SELECT l_orderkey FROM b36_lineitem GROUP BY l_orderkey
                |  HAVING sum(CAST(l_quantity AS BIGINT)) > 290)
                |GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
                |ORDER BY total_cents DESC, o.o_orderkey""".stripMargin)
      },
      Some("""SELECT c.c_name, o.o_orderkey,
             |  sum(l.l_quantity::BIGINT)::BIGINT AS sum_qty,
             |  (floor(o.o_totalprice*100 + 0.5))::BIGINT AS total_cents
             |FROM customer c
             |JOIN orders o ON c.c_custkey = o.o_custkey
             |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             |WHERE o.o_orderkey IN (
             |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
             |  HAVING sum(l_quantity::BIGINT) > 290)
             |GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
             |ORDER BY total_cents DESC, o.o_orderkey""".stripMargin)),

    // TPC-H Q10 shape — returned-item revenue report: one quarter of
    // orders, lineitems flagged 'R', revenue aggregated per customer
    // with the nation dimension joined in, top 20. The fact side
    // (lineitem ⋈ orders) carries the date + returnflag filters to the
    // scans; customer and nation are dimension-sized and must broadcast.
    QueryDef("b37_tpch_q10",
      (s, d) => {
        tbl(s, d, "customer").createOrReplaceTempView("b37_customer")
        tbl(s, d, "orders").createOrReplaceTempView("b37_orders")
        tbl(s, d, "lineitem").createOrReplaceTempView("b37_lineitem")
        tbl(s, d, "nation").createOrReplaceTempView("b37_nation")
        s.sql("""SELECT c.c_custkey, c.c_name, n.n_name,
                |  sum(CAST(floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5)
                |    AS BIGINT)) AS revenue_cents
                |FROM b37_customer c
                |JOIN b37_orders o ON c.c_custkey = o.o_custkey
                |JOIN b37_lineitem l ON l.l_orderkey = o.o_orderkey
                |JOIN b37_nation n ON c.c_nationkey = n.n_nationkey
                |WHERE o.o_orderdate >= DATE '1996-01-01'
                |  AND o.o_orderdate < DATE '1996-04-01'
                |  AND l.l_returnflag = 'R'
                |GROUP BY c.c_custkey, c.c_name, n.n_name
                |ORDER BY revenue_cents DESC, c.c_custkey
                |LIMIT 20""".stripMargin)
      },
      Some("""SELECT c.c_custkey, c.c_name, n.n_name,
             |  sum((floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5))::BIGINT)::BIGINT
             |    AS revenue_cents
             |FROM customer c
             |JOIN orders o ON c.c_custkey = o.o_custkey
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE o.o_orderdate >= DATE '1996-01-01'
             |  AND o.o_orderdate < DATE '1996-04-01'
             |  AND l.l_returnflag = 'R'
             |GROUP BY c.c_custkey, c.c_name, n.n_name
             |ORDER BY revenue_cents DESC, c.c_custkey
             |LIMIT 20""".stripMargin)),

    // TPC-H Q13 shape — customer order-count distribution: LEFT join
    // with the filter ON THE JOIN CONDITION (pushing it to a WHERE would
    // silently drop the zero-order customers the report exists to
    // count), per-customer counts, then the count-of-counts histogram.
    // Two keyed aggregates; the outer join must stay an outer hash join.
    QueryDef("b38_tpch_q13",
      (s, d) => {
        tbl(s, d, "customer").createOrReplaceTempView("b38_customer")
        tbl(s, d, "orders").createOrReplaceTempView("b38_orders")
        s.sql("""SELECT c_count, count(*) AS custdist FROM (
                |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
                |  FROM b38_customer c
                |  LEFT JOIN b38_orders o ON c.c_custkey = o.o_custkey
                |    AND o.o_orderpriority <> '5-LOW'
                |  GROUP BY c.c_custkey) cc
                |GROUP BY c_count
                |ORDER BY custdist DESC, c_count DESC""".stripMargin)
      },
      Some("""SELECT c_count, count(*)::BIGINT AS custdist FROM (
             |  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
             |  FROM customer c
             |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             |    AND o.o_orderpriority <> '5-LOW'
             |  GROUP BY c.c_custkey) cc
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q14 shape — promo revenue share for one month: the
    // conditional-aggregate ratio over a broadcast part join, in exact
    // cents with the share as a 1e4-scaled integral division. The month
    // filter must reach the lineitem scan; part is dimension-sized.
    QueryDef("b39_tpch_q14",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b39_lineitem")
        tbl(s, d, "part").createOrReplaceTempView("b39_part")
        s.sql("""SELECT
                |  sum(CASE WHEN p.p_type = 'PROMO'
                |    THEN CAST(floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5) AS BIGINT)
                |    ELSE 0L END) AS promo_cents,
                |  sum(CAST(floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5) AS BIGINT))
                |    AS total_cents,
                |  div(10000 * sum(CASE WHEN p.p_type = 'PROMO'
                |    THEN CAST(floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5) AS BIGINT)
                |    ELSE 0L END),
                |    sum(CAST(floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5) AS BIGINT)))
                |    AS promo_share_x10000
                |FROM b39_lineitem l JOIN b39_part p ON l.l_partkey = p.p_partkey
                |WHERE l.l_shipdate >= DATE '1996-03-01'
                |  AND l.l_shipdate < DATE '1996-04-01'""".stripMargin)
      },
      Some("""SELECT
             |  sum(CASE WHEN p.p_type = 'PROMO'
             |    THEN (floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5))::BIGINT
             |    ELSE 0 END)::BIGINT AS promo_cents,
             |  sum((floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5))::BIGINT)::BIGINT
             |    AS total_cents,
             |  ((10000 * sum(CASE WHEN p.p_type = 'PROMO'
             |    THEN (floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5))::BIGINT
             |    ELSE 0 END)::BIGINT)
             |    // sum((floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5))::BIGINT)::BIGINT)
             |    ::BIGINT AS promo_share_x10000
             |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |WHERE l.l_shipdate >= DATE '1996-03-01'
             |  AND l.l_shipdate < DATE '1996-04-01'""".stripMargin)),

    // TPC-H Q6 shape — the forecasting-revenue-change scan: pure
    // filter + aggregate, no join. Every predicate (year, discount
    // band, quantity cap) must reach the parquet scan; at 100 TB this
    // query IS predicate pushdown.
    QueryDef("b40_tpch_q6",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b40_lineitem")
        s.sql("""SELECT count(*) AS matched,
                |  sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
                |    AS revenue_cents
                |FROM b40_lineitem
                |WHERE l_shipdate >= DATE '1996-01-01'
                |  AND l_shipdate < DATE '1997-01-01'
                |  AND l_discount BETWEEN 0.05 AND 0.07
                |  AND l_quantity < 24""".stripMargin)
      },
      Some("""SELECT count(*)::BIGINT AS matched,
             |  sum((floor(l_extendedprice * l_discount * 100 + 0.5))::BIGINT)::BIGINT
             |    AS revenue_cents
             |FROM lineitem
             |WHERE l_shipdate >= DATE '1996-01-01'
             |  AND l_shipdate < DATE '1997-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q1 shape — the pricing summary report: ONE pass over the
    // fact, grouped on a 6-value key, eight aggregates at once (sums,
    // counts, and div-based exact averages). The canonical map-side-
    // combine showcase: the partial aggregation collapses everything
    // before the one tiny exchange, so at 100 TB this is scan-bound by
    // construction. All money in exact cents, discounts ×10⁴, averages
    // as integral division.
    QueryDef("b41_tpch_q1",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b41_lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS sum_qty,
                |  sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                |    AS sum_base_cents,
                |  sum(CAST(floor(l_extendedprice*(1-l_discount)*100 + 0.5)
                |    AS BIGINT)) AS sum_disc_cents,
                |  sum(CAST(floor(l_extendedprice*(1-l_discount)*(1+l_tax)*100
                |    + 0.5) AS BIGINT)) AS sum_charge_cents,
                |  div(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) * 100,
                |    count(*)) AS avg_qty_x100,
                |  div(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)),
                |    count(*)) AS avg_price_cents,
                |  div(sum(CAST(floor(l_discount*10000 + 0.5) AS BIGINT)),
                |    count(*)) AS avg_disc_x10000,
                |  count(*) AS count_order
                |FROM b41_lineitem
                |WHERE l_shipdate <= DATE '2001-09-01'
                |GROUP BY l_returnflag, l_linestatus
                |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum((floor(l_quantity + 0.5))::BIGINT)::BIGINT AS sum_qty,
             |  sum((floor(l_extendedprice*100 + 0.5))::BIGINT)::BIGINT
             |    AS sum_base_cents,
             |  sum((floor(l_extendedprice*(1-l_discount)*100 + 0.5))::BIGINT)
             |    ::BIGINT AS sum_disc_cents,
             |  sum((floor(l_extendedprice*(1-l_discount)*(1+l_tax)*100
             |    + 0.5))::BIGINT)::BIGINT AS sum_charge_cents,
             |  ((sum((floor(l_quantity + 0.5))::BIGINT)::BIGINT * 100)
             |    // count(*)::BIGINT)::BIGINT AS avg_qty_x100,
             |  (sum((floor(l_extendedprice*100 + 0.5))::BIGINT)::BIGINT
             |    // count(*)::BIGINT)::BIGINT AS avg_price_cents,
             |  (sum((floor(l_discount*10000 + 0.5))::BIGINT)::BIGINT
             |    // count(*)::BIGINT)::BIGINT AS avg_disc_x10000,
             |  count(*)::BIGINT AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= DATE '2001-09-01'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q9 shape — product-line profit by nation and year: the
    // LIKE-filtered five-table join with a COMPUTED measure per line.
    // The testdata carries no partsupp table, so supply cost is proxied
    // at 10% of the part's retail price × quantity (same computed-
    // measure shape: revenue minus a join-sourced cost, exact cents).
    // part filters through the LIKE before joining (dimension
    // broadcast); nation arrives via supplier.
    QueryDef("b42_tpch_q9",
      (s, d) => {
        tbl(s, d, "part").createOrReplaceTempView("b42_part")
        tbl(s, d, "lineitem").createOrReplaceTempView("b42_lineitem")
        tbl(s, d, "supplier").createOrReplaceTempView("b42_supplier")
        tbl(s, d, "orders").createOrReplaceTempView("b42_orders")
        tbl(s, d, "nation").createOrReplaceTempView("b42_nation")
        s.sql("""SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                |  sum(CAST(floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5)
                |      AS BIGINT)
                |    - CAST(floor(p.p_retailprice * l.l_quantity * 10 + 0.5)
                |      AS BIGINT)) AS profit_cents
                |FROM b42_part p
                |JOIN b42_lineitem l ON p.p_partkey = l.l_partkey
                |JOIN b42_supplier s ON l.l_suppkey = s.s_suppkey
                |JOIN b42_orders o ON l.l_orderkey = o.o_orderkey
                |JOIN b42_nation n ON s.s_nationkey = n.n_nationkey
                |WHERE p.p_name LIKE '%red%'
                |GROUP BY n.n_name, year(o.o_orderdate)
                |ORDER BY nation, o_year DESC""".stripMargin)
      },
      Some("""SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             |  sum((floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5))::BIGINT
             |    - (floor(p.p_retailprice * l.l_quantity * 10 + 0.5))::BIGINT)
             |    ::BIGINT AS profit_cents
             |FROM part p
             |JOIN lineitem l ON p.p_partkey = l.l_partkey
             |JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |JOIN orders o ON l.l_orderkey = o.o_orderkey
             |JOIN nation n ON s.s_nationkey = n.n_nationkey
             |WHERE p.p_name LIKE '%red%'
             |GROUP BY n.n_name, year(o.o_orderdate)
             |ORDER BY nation, o_year DESC""".stripMargin)),

    // TPC-H Q11 shape — group HAVING against a GLOBAL scalar subquery:
    // the one decorrelation class the b-family hadn't exercised. Value
    // per part from one nation's suppliers, kept only when it exceeds
    // a fixed fraction of the SAME filtered set's total. The testdata
    // carries no partsupp, so "value" is lineitem revenue through the
    // supplier→nation restriction (identical decorrelation structure:
    // an uncorrelated scalar aggregate consumed by every group's
    // HAVING). The filtered fact is localCheckpoint'ed ONCE and both
    // consumers — the per-part aggregate and the global total — read
    // the materialized blocks: the b30 lesson, since AQE's broadcast
    // choice defeats ReusedExchange and would otherwise scan lineitem
    // twice (plan-pinned: no parquet scan in the final plan).
    QueryDef("b43_tpch_q11",
      (s, d) => {
        tbl(s, d, "lineitem").createOrReplaceTempView("b43_lineitem")
        tbl(s, d, "supplier").createOrReplaceTempView("b43_supplier")
        tbl(s, d, "nation").createOrReplaceTempView("b43_nation")
        s.sql("""SELECT l.l_partkey,
                |  CAST(floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5)
                |    AS BIGINT) AS v
                |FROM b43_lineitem l
                |JOIN b43_supplier s ON l.l_suppkey = s.s_suppkey
                |JOIN b43_nation n ON s.s_nationkey = n.n_nationkey
                |WHERE n.n_name = 'NATION_9'""".stripMargin)
          .transform(graft.operators.ArtifactStore.eagerCheckpoint(_, "b43_filtered"))
          .createOrReplaceTempView("b43_flt")
        // the kept-fraction threshold is 3x the MEAN per-part value, so
        // the report stays selective-but-nonempty at every SF (TPC-H's
        // own Q11 scales its fraction by SF for the same reason)
        s.sql("""SELECT l_partkey, sum(v) AS value_cents
                |FROM b43_flt
                |GROUP BY l_partkey
                |HAVING sum(v) > (SELECT div(3 * sum(v),
                |  count(DISTINCT l_partkey)) FROM b43_flt)
                |ORDER BY value_cents DESC, l_partkey""".stripMargin)
      },
      Some("""WITH flt AS (
             |  SELECT l.l_partkey,
             |    (floor(l.l_extendedprice*(1-l.l_discount)*100 + 0.5))::BIGINT AS v
             |  FROM lineitem l
             |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |  JOIN nation n ON s.s_nationkey = n.n_nationkey
             |  WHERE n.n_name = 'NATION_9')
             |SELECT l_partkey, sum(v)::BIGINT AS value_cents
             |FROM flt
             |GROUP BY l_partkey
             |HAVING sum(v)::BIGINT >
             |  (SELECT (3 * sum(v)::BIGINT
             |    // count(DISTINCT l_partkey)::BIGINT)::BIGINT FROM flt)
             |ORDER BY value_cents DESC, l_partkey""".stripMargin)),

    // TPC-H Q12 shape — the late-shipment priority audit: fact-fact
    // join with an IN filter and CASE-split priority counts. The
    // testdata carries no l_shipmode/commitdate, so the IN rides the
    // return flag and the year filter stands in for the receipt-date
    // window — the shape (join + IN + two conditional counts on the
    // OTHER table's column) is Q12's.
    QueryDef("b44_tpch_q12",
      (s, d) => {
        tbl(s, d, "orders").createOrReplaceTempView("b44_orders")
        tbl(s, d, "lineitem").createOrReplaceTempView("b44_lineitem")
        s.sql("""SELECT l.l_returnflag,
                |  sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                |    THEN 1L ELSE 0L END) AS high_line_count,
                |  sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                |    THEN 1L ELSE 0L END) AS low_line_count
                |FROM b44_orders o
                |JOIN b44_lineitem l ON o.o_orderkey = l.l_orderkey
                |WHERE l.l_returnflag IN ('R', 'A')
                |  AND l.l_shipdate >= DATE '1996-01-01'
                |  AND l.l_shipdate < DATE '1997-01-01'
                |GROUP BY l.l_returnflag
                |ORDER BY l.l_returnflag""".stripMargin)
      },
      Some("""SELECT l.l_returnflag,
             |  sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
             |    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
             |  sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             |    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
             |FROM orders o
             |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             |WHERE l.l_returnflag IN ('R', 'A')
             |  AND l.l_shipdate >= DATE '1996-01-01'
             |  AND l.l_shipdate < DATE '1997-01-01'
             |GROUP BY l.l_returnflag
             |ORDER BY l.l_returnflag""".stripMargin))
  )

  /** Write orders to a temp dir as `format`, read back with the explicit
    * schema, project to oracle-comparable integers.
    */
  private def roundTrip(s: org.apache.spark.sql.SparkSession, d: String,
      format: String): org.apache.spark.sql.DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-$format").toString
    val o = tbl(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    o.write.mode("overwrite").option("header", "true").format(format).save(tmp)
    s.read.option("header", "true").schema(o.schema).format(format).load(tmp)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"))
      .orderBy("o_orderkey")
  }

  private def roundTripOracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  (floor(o_totalprice*100 + 0.5))::BIGINT AS price_cents
      |FROM orders ORDER BY o_orderkey""".stripMargin
}
