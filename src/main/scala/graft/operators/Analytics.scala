package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.model.Tables

/** Extension analytics operators (SURVEY.md §7 step 6): the reference has no
  * SQL surface, so these make the engine a usable analytics engine over the
  * same data — joins (broadcast + shuffle, semi/anti/outer), windows,
  * ROLLUP/grouping sets, set operations, sessionization, pivot-style
  * conditional aggregation, JSON extraction.
  *
  * Scale notes (100 TB target): filters/projections sit directly on the
  * parquet scan (pushdown + pruning); small dims (region/nation/customer at
  * dim-like cardinality) are broadcast explicitly; fact-fact joins shuffle
  * on their join key; windows partition by high-cardinality keys only.
  */
object Analytics {

  // ---- TPC-H Q1: scan-heavy aggregation ------------------------------------

  def q1Pricing(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  ROUND(SUM(l_quantity), 2) AS sum_qty,
      |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  ROUND(AVG(l_quantity), 4) AS avg_qty,
      |  ROUND(AVG(l_extendedprice), 4) AS avg_price,
      |  ROUND(AVG(l_discount), 4) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---- TPC-H Q3: broadcast dim join + top-k ---------------------------------

  /** customer ⋈ orders ⋈ lineitem; deterministic top-10 by rounded
    * revenue with orderkey tiebreak.
    *
    * No broadcast hints: every input grows with SF (customer keeps ~1/5
    * after the segment filter, orders ~97%), so a forced broadcast of any
    * of them is an OOM at cluster scale. AQE still picks broadcast-hash
    * at small SF where a side genuinely fits under the threshold, and
    * falls back to shuffled joins on orderkey/custkey when it doesn't. */
  def q3Shipping(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < to_timestamp(lit("1998-03-15")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > to_timestamp(lit("1998-03-15")))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    l.join(o.join(c, o("o_custkey") === c("c_custkey")),
        l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- TPC-H Q5-style: multi-way join to dims -------------------------------

  def q5NationRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    // Pre-aggregate lineitem per orderkey BEFORE any join: the orderkey
    // shuffle happens either way (for the join), but grouping first means
    // ~4× fewer rows flow through the orders/customer/nation/region joins
    // — at 100 TB that is billions of rows that never enter a join. Sums
    // stay RAW here (rounding per-order first would change the total);
    // the final group rounds once, like the oracle.
    val lAgg = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("_rev"),
        count(lit(1)).as("_n"))
    // customer grows with SF — no broadcast hint: AQE picks broadcast at
    // small SF and shuffle-hash at cluster scale (a forced broadcast here
    // is an OOM at 100 TB, and was the round-6 3.3 s regression).
    // nation (25 rows) and region (5 rows) are fixed-size: hint them.
    lAgg.join(o, lAgg("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("_rev")), 2).as("revenue"),
        sum(col("_n")).as("n_items"))
  }

  val q5Sql: String =
    """SELECT r_name, n_name,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  // ---- TPC-H Q4-style: correlated EXISTS with cross-table predicate ---------

  /** Orders in 1995Q1 having ≥1 lineitem shipped after the order date,
    * counted by priority — a left-semi join whose condition spans both
    * sides (the semi side prunes to (orderkey, shipdate) before the
    * shuffle). */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1995-04-01")))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin

  // ---- TPC-H Q14-style: conditional share over a dim join -------------------

  /** Promo revenue share: lineitem ⋈ part (broadcast dim), CASE-split
    * aggregate in one pass. */
  def q14PromoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_type")
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    // part grows with SF (unlike nation/region) — unhinted so AQE
    // broadcasts only while it fits and shuffles on partkey when it doesn't
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0.0))) / sum(rev), 4).as("promo_share_pct"),
        count(lit(1)).as("n_items"))
  }

  val q14Sql: String =
    """SELECT
      |  ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
      |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
      |    / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin

  // ---- TPC-H Q18-style: HAVING subquery + deterministic top-k ---------------

  /** Large-volume orders: per-order quantity sums filtered by HAVING,
    * joined back to orders and customers; top-20 by price with orderkey
    * tiebreak. The HAVING aggregation runs BEFORE the join — only
    * qualifying orderkeys (rare) reach the join, so the join input is
    * tiny regardless of fact size. */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    // customer grows with SF — unhinted. After the HAVING join the left
    // side is a handful of rows, and AQE's runtime stats see that and
    // broadcast the TINY side into customer (the direction a planner-time
    // hint on c can't express).
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        round(col("o_totalprice"), 2).as("total_price"),
        round(col("sum_qty"), 2).as("sum_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(20)
  }

  val q18Sql: String =
    """SELECT c_name, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |  ROUND(o_totalprice, 2) AS total_price, ROUND(sum_qty, 2) AS sum_qty
      |FROM orders
      |  JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      |        FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250) big
      |    ON o_orderkey = big.l_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_price DESC, o_orderkey LIMIT 20""".stripMargin

  // ---- semi / anti joins -----------------------------------------------------

  /** Customers with vs without 1995 orders, by segment (left_semi /
    * left_anti — EXISTS / NOT EXISTS without row duplication). */
  def semiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    val o95 = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1996-01-01")))
      .select(col("o_custkey"))
    val withO = c.join(o95, c("c_custkey") === o95("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
      .withColumn("kind", lit("with_1995_orders"))
    val without = c.join(o95, c("c_custkey") === o95("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
      .withColumn("kind", lit("without_1995_orders"))
    withO.unionByName(without).select("kind", "c_mktsegment", "cnt")
  }

  val semiAntiSql: String =
    """WITH o95 AS (
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |)
      |SELECT 'with_1995_orders' AS kind, c_mktsegment, COUNT(*) AS cnt
      |FROM customer WHERE c_custkey IN (SELECT o_custkey FROM o95)
      |GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 'without_1995_orders' AS kind, c_mktsegment, COUNT(*) AS cnt
      |FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM o95)
      |GROUP BY c_mktsegment""".stripMargin

  // ---- outer join ------------------------------------------------------------

  /** Orders left-joined to lineitem; histogram of items-per-order (0 kept —
    * that's the outer part). */
  def outerCount(spark: SparkSession, sfDir: String): DataFrame = {
    // Round 16 (guide §2.3 aggregate-before-you-shuffle): count lineitem
    // rows per key BEFORE the join, so the join's big side shrinks from
    // every lineitem row to one (key, count) row per distinct order key —
    // partial aggregation reduces map-side, the exchange carries ~6× fewer
    // rows at any SF, and the post-join per-order aggregation (which
    // consumed the whole join fan-out) disappears. COUNT(l_orderkey) over
    // the left join counts exactly the matching lineitem rows (the join
    // key is the counted column, never null on a match) and 0 on no
    // match = coalesce(n, 0) after the pre-aggregation — identical rows.
    val o = Tables.orders(spark, sfDir).select("o_orderkey")
    val perKey = Tables.lineitem(spark, sfDir).select("l_orderkey")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("_n"))
    o.join(perKey, o("o_orderkey") === perKey("l_orderkey"), "left_outer")
      .select(coalesce(col("_n"), lit(0L)).as("n_items"))
      .groupBy(col("n_items")).agg(count(lit(1)).as("n_orders"))
  }

  val outerCountSql: String =
    """WITH per_order AS (
      |  SELECT o_orderkey, COUNT(l_orderkey) AS n_items
      |  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY o_orderkey
      |)
      |SELECT n_items, COUNT(*) AS n_orders FROM per_order GROUP BY n_items""".stripMargin

  // ---- window functions ------------------------------------------------------

  /** Top-3 lineitems per supplier by price (deterministic tiebreak). */
  def windowTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    // MEASURED NON-CHANGE (round 15): Tables.spread here regressed
    // steady state 0.89 -> 1.51 s — the added full-table exchange (the
    // spread ships all four columns) costs more than the single-task
    // WindowGroupLimit sort it parallelizes. The spread only pays where
    // a sub-MB scan feeds millions of per-row hash/regex evaluations.
    Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  val windowTopKSql: String =
    """SELECT * FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |    CAST(row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rk
      |  FROM lineitem
      |) WHERE rk <= 3""".stripMargin

  /** Same top-3-per-supplier semantics through the custom `TopKPerKey`
    * operator (`graft.plans.TopKPerKey`: logical node → TopKStrategy →
    * two bounded-heap exec stages). Where `windowTopK` shuffles and sorts
    * the WHOLE lineitem table per supplier group, this plan's exchange
    * carries at most `partitions × suppliers × 3` pre-pruned rows and
    * nothing is ever sorted — the 100 TB formulation of §2.4's
    * order-then-limit. TopKPerKeySpec pins exec-stage shape, window
    * equality, and the key-filter pushdown rule. */
  def topKCustom(spark: SparkSession, sfDir: String): DataFrame =
    graft.plans.TopK.perKey(
      Tables.lineitem(spark, sfDir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
      keyCols = Seq("l_suppkey"),
      orderSpec = Seq(("l_extendedprice", false), ("l_orderkey", true),
        ("l_linenumber", true)),
      k = 3)

  val topKCustomSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
      |  FROM lineitem
      |) WHERE rk <= 3""".stripMargin

  /** Running revenue per customer over order history. */
  def windowRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("running_total", round(sum(col("o_totalprice")).over(w), 2))
      .drop("o_totalprice", "o_orderdate")
  }

  val windowRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders""".stripMargin

  /** RANGE-frame rolling window — completes the frame surface next to the
    * ROWS frames (`q_window_running`, `q_sliding_window`): per-user
    * trailing-1-hour event-value sum, frame bounded by the VALUE of the
    * ordering column (peers at the same second share a frame), not by row
    * position. Shuffles once on user_id; each user's frame scan is a
    * sliding two-pointer pass over its partition. */
  def rangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
      .rangeBetween(-3600L, 0L)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        // integer div: nanos exceed double's 2^53 mantissa — a float
        // divide here would mis-bucket seconds
        expr("ts div 1000000000").as("ts_sec"), col("value"))
      .withColumn("rolling_1h", round(sum(col("value")).over(w), 2))
  }

  val rangeFrameSql: String =
    """SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
      |  value,
      |  ROUND(SUM(value) OVER (PARTITION BY user_id
      |    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
      |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS rolling_1h
      |FROM events""".stripMargin

  // ---- window-function breadth: lead / ntile / percent_rank -------------------

  /** Global percent_rank over a UNIQUE (value, tiebreak) ordering without a
    * single-partition sort (`Window.orderBy` with no partition — the
    * classic scale-killer: every row through one task). Distributed
    * sort-rank instead: range-bucket the value, window only WITHIN each
    * bucket, stitch global positions with broadcast per-bucket offsets.
    * Shuffles the data once on the bucket key; the offset table is ≤
    * `nBuckets` rows. Exact — matches `percent_rank() OVER (ORDER BY
    * value, tiebreak)` when (value, tiebreak) is unique. */
  def distributedPercentRank(df: DataFrame, value: org.apache.spark.sql.Column,
      tiebreak: org.apache.spark.sql.Column, outCol: String,
      nBuckets: Int = 64): DataFrame = {
    val vv = value.cast("double")
    val stats = df.agg(min(vv).as("_mn"), max(vv).as("_mx"))
    val bucketed = df.crossJoin(broadcast(stats)) // 1-row stats: BNLJ, not cartesian
      .withColumn("_bkt", least(greatest(
        floor((vv - col("_mn")) / ((col("_mx") - col("_mn") + lit(1e-9)) / nBuckets)),
        lit(0L)), lit(nBuckets - 1L)))
      .drop("_mn", "_mx")
    // per-bucket counts → exclusive prefix offsets + grand total; ≤nBuckets
    // rows, so the unpartitioned window here is over a tiny aggregate, not
    // the data
    val w = Window.orderBy(col("_bkt"))
    val offsets = bucketed.groupBy(col("_bkt")).agg(count(lit(1)).as("_c"))
      .select(col("_bkt"),
        (sum(col("_c")).over(w) - col("_c")).as("_off"),
        sum(col("_c")).over(Window.partitionBy()).as("_n"))
    val inBucket = Window.partitionBy(col("_bkt")).orderBy(value, tiebreak)
    bucketed.join(broadcast(offsets), "_bkt")
      .withColumn(outCol,
        // n = 1 would divide by zero; percent_rank of a single row is 0
        // (matching SQL engines' percent_rank), not null
        when(col("_n") > 1,
          (col("_off") + row_number().over(inBucket) - lit(1)).cast("double")
            / (col("_n") - lit(1)))
          .otherwise(lit(0.0)))
      .drop("_bkt", "_off", "_n")
  }

  /** Per-customer order timeline: days to the next order (lead), spend
    * quartile within the customer (ntile), global price percentile —
    * one shuffle on o_custkey serves the two customer-partitioned windows;
    * the global percentile goes through [[distributedPercentRank]] (no
    * single-partition sort over the data). */
  def windowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val sliced = Tables.orders(spark, sfDir)
      .filter(col("o_custkey") % 100 === 0) // deterministic 1% slice
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
    distributedPercentRank(sliced, col("o_totalprice"), col("o_orderkey"),
        "price_pct_raw")
      .withColumn("days_to_next",
        datediff(lead(col("o_orderdate"), 1).over(byCust), col("o_orderdate"))
          .cast("long"))
      .withColumn("spend_quartile", ntile(4).over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))))
      .withColumn("price_pct", round(col("price_pct_raw"), 6))
      .select(col("o_custkey"), col("o_orderkey"), col("days_to_next"),
        col("spend_quartile"), col("price_pct"))
  }

  val windowFuncsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  date_diff('day', o_orderdate,
      |    lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey)) AS days_to_next,
      |  CAST(ntile(4) OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice, o_orderkey) AS INT) AS spend_quartile,
      |  ROUND(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 6)
      |    AS price_pct
      |FROM orders WHERE o_custkey % 100 = 0""".stripMargin

  // ---- exact quantiles --------------------------------------------------------

  /** Exact interpolated percentiles of extended price per return flag —
    * `percentile` and DuckDB `quantile_cont` share the linear-interpolation
    * definition, so the oracle is exact (rounded at 4). At 100 TB one
    * would reach for approx_percentile (t-digest) — kept exact here
    * because cross-engine sketches don't agree; the plan shape (single
    * sort-free aggregation) is the same. */
  def quantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))")
        .as("qs"), count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(element_at(col("qs"), 1), 4).as("p25"),
        round(element_at(col("qs"), 2), 4).as("p50"),
        round(element_at(col("qs"), 3), 4).as("p75"),
        round(element_at(col("qs"), 4), 4).as("p95"),
        col("n"))

  val quantilesSql: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
      |  ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---- approximate quantiles (rank-error certificate) -------------------------

  /** Sketch quantiles with their rank-error certificate — the 100 TB
    * companion to the exact `quantiles` above: `approx_percentile`
    * (GK-style sketch, accuracy 100 → rank error ε ≤ 1%) keeps constant
    * memory per group where the exact percentile holds every value.
    * Sketch outputs differ across engines by construction, so (like
    * q_approx_distinct) the raw sketch value is never oracled — instead
    * the query re-ranks each sketch value against the data and emits
    * booleans asserting the GK guarantee held: the returned value's rank
    * lies within ε·n of the target rank (two-sided, tie-tolerant:
    * count(≤v) ≥ (q−ε)·n and count(<v) ≤ (q+ε)·n). The oracle checks the
    * exact interpolated percentiles plus the TRUE certificates. Shape:
    * one sketch agg, tiny (3-row) re-join AQE broadcasts, one counting
    * agg — no sort anywhere. */
  def approxQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val eps = 0.01
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val sk = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D), 100)")
        .as("ap"))
      .select(col("l_returnflag"),
        element_at(col("ap"), 1).as("a50"), element_at(col("ap"), 2).as("a95"))
    li.join(sk, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("l_extendedprice") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("l_extendedprice") <= col("a95"), 1L).otherwise(0L)).as("le95"),
        sum(when(col("l_extendedprice") < col("a95"), 1L).otherwise(0L)).as("lt95"),
        round(expr("percentile(l_extendedprice, 0.5D)"), 4).as("p50_exact"),
        round(expr("percentile(l_extendedprice, 0.95D)"), 4).as("p95_exact"))
      .select(col("l_returnflag"), col("n"), col("p50_exact"), col("p95_exact"),
        (col("le50") >= col("n") * (0.5 - eps) &&
          col("lt50") <= col("n") * (0.5 + eps)).as("ok50"),
        (col("le95") >= col("n") * (0.95 - eps) &&
          col("lt95") <= col("n") * (0.95 + eps)).as("ok95"))
  }

  val approxQuantilesSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50_exact,
      |  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
      |  TRUE AS ok50, TRUE AS ok95
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---- monthly trend (date functions) ----------------------------------------

  /** Monthly revenue trend: date_trunc bucketing + distinct customers. */
  def monthlyRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))

  val monthlyRevenueSql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |  ROUND(SUM(o_totalprice), 2) AS revenue,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin

  // ---- z-order layout planning ------------------------------------------------

  /** Z-order (Morton-curve) layout audit — the DATA-LAYOUT lever for
    * multi-dimensional scan pruning at 100 TB: files sorted linearly by
    * (x, y) bound only x per file, so predicates on y prune nothing; files
    * sorted by the interleaved z-value bound BOTH dims per file (each
    * 64-bucket tile here spans 32 of 256 quantized units in x AND y,
    * where the linear layout's tiles span 4 in x but all 256 in y).
    * The query quantizes l_partkey/l_suppkey to 8-bit cells against the
    * global min/max (one tiny broadcast agg), interleaves bits with pure
    * integer DIV/MOD arithmetic — the identical formula strings run in
    * both engines, no UDF, stays in whole-stage codegen — and reports
    * per-layout tile-span statistics. At cluster scale the same z
    * expression feeds `repartitionByRange(z).sortWithinPartitions(z)`
    * before the write; this query is the planner that proves the span
    * math. */
  private def interleaveExpr(xb: String, yb: String, divOp: String): String =
    (0 until 8).map { i =>
      s"(($xb $divOp ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($yb $divOp ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
    val dims = li.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    val cells = li.crossJoin(broadcast(dims))
      .withColumn("xb", expr("((x - xmin) * 256) DIV (xmax - xmin + 1)"))
      .withColumn("yb", expr("((y - ymin) * 256) DIV (ymax - ymin + 1)"))
      .withColumn("zb", expr(interleaveExpr("xb", "yb", "DIV")))
    def spans(bucket: String, layout: String) =
      cells.groupBy(expr(bucket).as("bucket"))
        .agg((max(col("xb")) - min(col("xb")) + 1).as("x_span"),
          (max(col("yb")) - min(col("yb")) + 1).as("y_span"),
          count(lit(1)).as("n"))
        .agg(lit(layout).as("layout"), count(lit(1)).as("n_buckets"),
          round(avg(col("x_span")), 4).as("avg_x_span"),
          round(avg(col("y_span")), 4).as("avg_y_span"),
          max(col("x_span")).as("max_x_span"),
          max(col("y_span")).as("max_y_span"),
          sum(col("n")).as("n_rows"))
    spans("zb DIV 1024", "zorder").unionAll(spans("xb DIV 4", "linear"))
  }

  val zorderLayoutSql: String = {
    val z = interleaveExpr("xb", "yb", "//")
    s"""WITH dims AS (
       |  SELECT MIN(l_partkey) AS xmin, MAX(l_partkey) AS xmax,
       |         MIN(l_suppkey) AS ymin, MAX(l_suppkey) AS ymax
       |  FROM lineitem
       |), cells AS (
       |  SELECT ((l_partkey - xmin) * 256) // (xmax - xmin + 1) AS xb,
       |         ((l_suppkey - ymin) * 256) // (ymax - ymin + 1) AS yb
       |  FROM lineitem, dims
       |), zc AS (
       |  SELECT xb, yb, $z AS zb FROM cells
       |), per_bucket AS (
       |  SELECT bucket, layout,
       |    MAX(xb) - MIN(xb) + 1 AS x_span,
       |    MAX(yb) - MIN(yb) + 1 AS y_span, COUNT(*) AS n
       |  FROM (
       |    SELECT xb, yb, zb // 1024 AS bucket, 'zorder' AS layout FROM zc
       |    UNION ALL
       |    SELECT xb, yb, xb // 4 AS bucket, 'linear' AS layout FROM zc
       |  ) GROUP BY bucket, layout
       |)
       |SELECT layout, COUNT(*) AS n_buckets,
       |  ROUND(AVG(x_span), 4) AS avg_x_span,
       |  ROUND(AVG(y_span), 4) AS avg_y_span,
       |  CAST(MAX(x_span) AS BIGINT) AS max_x_span,
       |  CAST(MAX(y_span) AS BIGINT) AS max_y_span,
       |  CAST(SUM(n) AS BIGINT) AS n_rows
       |FROM per_bucket GROUP BY layout""".stripMargin
  }

  // ---- statistical aggregates -------------------------------------------------

  /** Correlation / spread statistics per return flag — corr and
    * stddev_samp share definitions across engines; double roundoff is
    * ~1 ulp, rounded away at 4. */
  def corrStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qty_price"),
        round(stddev_samp(col("l_extendedprice")), 2).as("stddev_price"),
        round(var_samp(col("l_discount")), 6).as("var_discount"),
        count(lit(1)).as("n"))

  val corrStatsSql: String =
    """SELECT l_returnflag,
      |  ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  ROUND(stddev_samp(l_extendedprice), 2) AS stddev_price,
      |  ROUND(var_samp(l_discount), 6) AS var_discount,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Linear-regression aggregates — completes the statistical-agg surface
    * next to [[corrStats]]: per event type, OLS slope/intercept/R² of
    * event value against hour-of-day, plus the pair count. All four are
    * single-pass partial+final aggregates over (Σx, Σy, Σxy, Σx², Σy², n)
    * — constant state per group at any scale, the same shape as
    * sum/corr. Both engines compute from identical sums (UTC hour). */
  def regression(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        hour(expr("timestamp_millis(ts div 1000000)")).cast("double").as("hr"),
        col("value"))
      .groupBy(col("event_type"))
      .agg(round(expr("regr_slope(value, hr)"), 4).as("slope"),
        round(expr("regr_intercept(value, hr)"), 4).as("intercept"),
        round(expr("regr_r2(value, hr)"), 6).as("r2"),
        expr("regr_count(value, hr)").as("n_pairs"))

  val regressionSql: String =
    """SELECT event_type,
      |  ROUND(regr_slope(value, EXTRACT(hour FROM ts)), 4) AS slope,
      |  ROUND(regr_intercept(value, EXTRACT(hour FROM ts)), 4) AS intercept,
      |  ROUND(regr_r2(value, EXTRACT(hour FROM ts)), 6) AS r2,
      |  CAST(regr_count(value, EXTRACT(hour FROM ts)) AS BIGINT) AS n_pairs
      |FROM events GROUP BY event_type""".stripMargin

  /** Sampled aggregate estimation — the exploratory pattern: a
    * DETERMINISTIC 10% md5-hash sample (the [[graft.operators.TextAnalysis]]
    * hash-split discipline: same rows in every engine, under any
    * partitioning — seeded RNG sampling is neither) aggregated SIDE BY
    * SIDE with the exact answer in one conditional-aggregation pass —
    * one scan, one shuffle, and groups whose sample happens to be empty
    * still surface (n_sample = 0), keeping the estimate auditable.
    * Honest cost model: a row-hash predicate prunes downstream COMPUTE
    * (the 90% non-sampled rows never reach later joins/aggs of a real
    * exploration query), not scan bytes — byte-level sampling needs
    * file/partition selection, which is what the md5 BUCKET layout of
    * `t_hash_split`-partitioned data provides at rest.
    * SampleEstimateSpec asserts the statistical bound; the oracle checks
    * exact equality of both sides. */
  def sampleEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    val inSample = conv(substring(md5(concat_ws("|",
      col("l_orderkey"), col("l_linenumber"))), 1, 8), 16, 10)
      .cast("long") % 10 === 0
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        inSample.as("in_sample"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"),
        round(sum(col("l_extendedprice")), 2).as("sum_exact"),
        count(when(col("in_sample"), 1)).as("n_sample"),
        round(sum(when(col("in_sample"), col("l_extendedprice"))), 2)
          .as("sum_sample"))
  }

  val sampleEstimateSql: String =
    """WITH tagged AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    ('0x' || substr(md5(l_orderkey || '|' || l_linenumber), 1, 8))::BIGINT
      |      % 10 = 0 AS in_sample
      |  FROM lineitem
      |)
      |SELECT l_returnflag,
      |  COUNT(*) AS n_exact,
      |  ROUND(SUM(l_extendedprice), 2) AS sum_exact,
      |  CAST(COUNT(CASE WHEN in_sample THEN 1 END) AS BIGINT) AS n_sample,
      |  ROUND(SUM(CASE WHEN in_sample THEN l_extendedprice END), 2)
      |    AS sum_sample
      |FROM tagged GROUP BY l_returnflag""".stripMargin

  /** Ordered conversion funnel (signup → purchase within 24 h) — the
    * event-sequence analytics op: first-signup per user (one agg), then
    * purchases gated on strictly-after-signup inside the window (one
    * shuffled join on user + one agg), rolled up to a single audit row.
    * No per-user event list is ever materialized — state per user is two
    * timestamps, so the shape holds at any event volume. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val dayMs = 86400000L
    // ms normalization on BOTH sides (the TemporalJoins discipline):
    // Spark sees the parquet TIMESTAMP(NANOS) as raw nanos, DuckDB reads
    // it microsecond-truncated — comparing at full precision would
    // classify window-boundary events differently across engines
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000").as("ts_ms"))
    val firstSignup = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts_ms")))
        .as("first_signup"))
    val converted = ev.filter(col("event_type") === "purchase")
      .join(firstSignup, Seq("user_id"))
      .filter(col("first_signup").isNotNull &&
        col("ts_ms") > col("first_signup") &&
        col("ts_ms") <= col("first_signup") + dayMs)
      .select(col("user_id")).distinct()
    firstSignup.agg(
        count(lit(1)).as("n_users"),
        count(col("first_signup")).as("n_with_signup"))
      .crossJoin(broadcast(converted.agg(count(lit(1)).as("n_converted"))))
      .select(col("n_users"), col("n_with_signup"), col("n_converted"),
        round(col("n_converted") / col("n_with_signup"), 4).as("conv_rate"))
  }

  val funnelSql: String =
    """WITH fs AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END)
      |      AS first_signup
      |  FROM events GROUP BY user_id
      |), conv AS (
      |  SELECT DISTINCT e.user_id
      |  FROM events e JOIN fs ON e.user_id = fs.user_id
      |  WHERE e.event_type = 'purchase' AND fs.first_signup IS NOT NULL
      |    AND epoch_ms(e.ts) > fs.first_signup
      |    AND epoch_ms(e.ts) <= fs.first_signup + 86400000
      |)
      |SELECT
      |  (SELECT COUNT(*) FROM fs) AS n_users,
      |  (SELECT COUNT(first_signup) FROM fs) AS n_with_signup,
      |  (SELECT COUNT(*) FROM conv) AS n_converted,
      |  ROUND((SELECT COUNT(*) FROM conv)
      |    / (SELECT COUNT(first_signup) FROM fs), 4) AS conv_rate""".stripMargin

  private val ProfileCols = Seq("l_quantity", "l_extendedprice",
    "l_discount", "l_tax")

  /** Single-pass column profiling — the ANALYZE-TABLE primitive that
    * feeds a cost-based optimizer: null count, distinct count, min, max
    * for every profiled column in ONE scan + ONE aggregate (Spark's
    * Expand handles the multi-distinct), then a row-local `stack` to the
    * long (column, stats) form. At 100 TB the exact distincts would
    * switch to approx_count_distinct partials ([[approxDistinct]] is
    * that operator); the one-pass shape is the point. */
  def tableProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val aggs = ProfileCols.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max"))
    }
    val stackArgs = ProfileCols.map(c =>
      s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max").mkString(", ")
    // MEASURED NON-CHANGE (round 15): Tables.spread on this scan was
    // tried and reverted — steady state went 1.5 → 1.65 s at sf0.1. The
    // Expand(×5) partial aggregate is NOT scan-bound here: the exchange
    // ships 600k×5 columns to save a pass the vectorized reader already
    // overlaps, and the wall is the countDistinct final phase either way.
    Tables.lineitem(spark, sfDir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${ProfileCols.size}, $stackArgs) " +
        "AS (column_name, n_nulls, n_distinct, min_v, max_v)")
  }

  val tableProfileSql: String = ProfileCols.map(c =>
    s"""SELECT '$c' AS column_name,
       |  COUNT(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
       |  COUNT(DISTINCT $c) AS n_distinct,
       |  CAST(MIN($c) AS DOUBLE) AS min_v,
       |  CAST(MAX($c) AS DOUBLE) AS max_v
       |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")

  /** Event-transition matrix — the Markov-chain view of user behavior
    * (which event follows which): per user, events ordered by
    * (ms-normalized ts, event_id — a unique total order), `lag` pairs
    * each event with its predecessor, and the (prev, next) pairs count
    * up globally. One shuffle on user for the window, one for the 5×5
    * count — per-user window state is a single row (lag 1). */
  def transitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ts_ms"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  val transitionsSql: String =
    """WITH ordered AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS prev_type
      |  FROM events
      |)
      |SELECT prev_type, event_type, COUNT(*) AS n_transitions
      |FROM ordered WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, event_type""".stripMargin

  // ---- salted aggregation (skew lever, with correctness proof) ---------------

  /** Two-phase SALTED aggregation over an extremely skewed key space
    * (5 event types × ~1M rows): phase 1 aggregates (key, salt) across 16
    * salt buckets — splitting each hot key's rows across 16 reducers —
    * phase 2 merges the partials per key. The oracle computes the plain
    * single-phase totals, proving the salted plan is semantics-preserving.
    * This is THE remedy when one key dominates a shuffle (AQE skew-join
    * handles joins; salting handles aggregations). */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        (col("event_id") % 16).as("salt"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pc"), sum(col("value")).as("ps"))
      .groupBy(col("event_type"))
      .agg(sum(col("pc")).as("n_events"),
        round(sum(col("ps")), 2).as("sum_value"))

  val saltedAggSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  ROUND(SUM(value), 2) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  // ---- approximate distinct (HLL sketch) --------------------------------------

  /** HyperLogLog++ distinct-count estimates next to the exact counts —
    * the 100 TB path for cardinality (constant memory per group vs a
    * distinct shuffle). Sketch estimates differ across engines by
    * construction, so the raw estimate can't be oracled — instead the
    * query emits the exact side plus a `within_bound` boolean (relative
    * error ≤ 3× the 5% target rsd, computed Spark-side), and the oracle
    * checks the exact columns and asserts the bound held (TRUE). A sketch
    * regression flips the boolean and fails the hash gate; the tighter
    * ≤5% statistical check lives in ApproxSpec. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.15).as("within_bound"))

  val approxDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |  COUNT(*) AS n_events, TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin

  // ---- statistical outlier gate ----------------------------------------------

  /** 3-sigma outlier gate per event type — the numeric-field curation
    * rule (drop rows whose value is anomalous for their stratum). The
    * per-group mean/stddev round at 6 BEFORE the z comparison, so both
    * engines threshold on bit-identical doubles (the cross-engine float
    * discipline used suite-wide). Shape: one agg for the tiny stats
    * frame, re-join unhinted (AQE broadcasts ~5 rows), one counting
    * agg — two passes over the scan, no window. */
  def outlierGate(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type"))
      .agg(round(avg(col("value")), 6).as("mean_value"),
        round(stddev_samp(col("value")), 6).as("stddev_value"),
        count(lit(1)).as("n_events"))
    ev.join(stats, Seq("event_type"))
      .groupBy(col("event_type"), col("n_events"),
        col("mean_value"), col("stddev_value"))
      .agg(sum(when(abs(col("value") - col("mean_value"))
          > col("stddev_value") * 3.0, 1L).otherwise(0L)).as("n_outliers"))
  }

  val outlierGateSql: String =
    """WITH stats AS (
      |  SELECT event_type, ROUND(AVG(value), 6) AS mean_value,
      |    ROUND(STDDEV_SAMP(value), 6) AS stddev_value,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1
      |)
      |SELECT e.event_type, n_events, mean_value, stddev_value,
      |  CAST(SUM(CASE WHEN ABS(e.value - mean_value) > stddev_value * 3.0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM events e JOIN stats USING (event_type)
      |GROUP BY 1, 2, 3, 4""".stripMargin

  // ---- ROLLUP with grouping markers -------------------------------------------

  def rollupSales(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("cnt"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))

  val rollupSalesSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  ROUND(SUM(l_quantity), 2) AS sum_qty,
      |  COUNT(*) AS cnt,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** CUBE over (returnflag, linestatus) — all four grouping grains in one
    * pass (the 2ⁿ-grain companion to q_rollup_sales / o30's GROUPING
    * SETS, completing the grouping-analytics surface). Spark expands the
    * cube before the partial aggregation, so it stays one shuffle. */
  def cubeSales(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("cnt"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))

  val cubeSalesSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  ROUND(SUM(l_quantity), 2) AS sum_qty,
      |  COUNT(*) AS cnt,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** MERGEABLE distinct-count sketches — the property that makes
    * approximate distinct work at 100 TB: one DataSketches HLL per
    * event_type (in practice: per partition / per day), unioned WITHOUT
    * touching raw data, estimate checked in-query against the exact
    * global count (the q_approx_distinct discipline: the oracle verifies
    * the exact side + the engine-computed bound boolean). */
  def hllUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val perType = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val merged = perType.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_global"),
      // countDistinct, not count of groups: the oracle's
      // COUNT(DISTINCT event_type) excludes a NULL type, a groupBy row
      // count would include it — keep NULL semantics aligned
      countDistinct(col("event_type")).as("n_types"))
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_global"))
    merged.crossJoin(exact)
      .select(col("exact_global"), col("n_types"),
        (abs(col("est_global") - col("exact_global")).cast("double")
          / col("exact_global") <= 0.1).as("union_within_bound"))
  }

  val hllUnionSql: String =
    """SELECT COUNT(DISTINCT user_id) AS exact_global,
      |  COUNT(DISTINCT event_type) AS n_types,
      |  TRUE AS union_within_bound
      |FROM events""".stripMargin

  // ---- set operations ----------------------------------------------------------

  /** UNION / INTERSECT / EXCEPT over yearly active customer sets. */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    def active(year: Int) = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= to_timestamp(lit(f"$year-01-01")) &&
        col("o_orderdate") < to_timestamp(lit(f"${year + 1}-01-01")))
      .select(col("o_custkey")).distinct()
    val a = active(1995); val b = active(1996)
    def tag(df: DataFrame, kind: String) =
      df.agg(count(lit(1)).as("cnt")).withColumn("kind", lit(kind))
    tag(a.except(b), "only_1995")
      .unionByName(tag(b.except(a), "only_1996"))
      .unionByName(tag(a.intersect(b), "both"))
      .unionByName(tag(a.union(b).distinct(), "either"))
      .select("kind", "cnt")
  }

  val setOpsSql: String =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
      |b AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
      |SELECT 'only_1995' AS kind, COUNT(*) AS cnt FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |UNION ALL
      |SELECT 'only_1996' AS kind, COUNT(*) AS cnt FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
      |UNION ALL
      |SELECT 'both' AS kind, COUNT(*) AS cnt FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT 'either' AS kind, COUNT(*) AS cnt FROM (SELECT * FROM a UNION SELECT * FROM b)""".stripMargin

  // ---- sessionization (gap-based, batch form) -----------------------------------

  /** 30-minute-gap sessionization over the event stream: lag → new-session
    * flag → running sum = session id; then per-session stats. Partitioned by
    * user (high-cardinality at scale) — no global window. `ts` arrives as
    * nanos-since-epoch LONG (Tables loader). */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ms"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val flagged = ev
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"),
        (max(col("ms")) - min(col("ms"))).as("duration_ms"))
  }

  val sessionizeSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
      |),
      |flagged AS (
      |  SELECT user_id, event_id, ms,
      |    CASE WHEN lag(ms) OVER w IS NULL
      |           OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
      |),
      |sess AS (
      |  SELECT user_id, ms,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ms) AS start_ms, MAX(ms) - MIN(ms) AS duration_ms
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  // ---- event-time tumbling / sliding windows ---------------------------------

  /** 1-hour tumbling window counts per event type — the batch shape of a
    * streaming windowed aggregation (same `window()` construct works under
    * a watermark in readStream mode). */
  def tumblingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(expr("timestamp_millis(ts div 1000000)").as("ts"),
        col("event_type"), col("value"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").cast("long").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val tumblingWindowSql: String =
    """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR,
      |    epoch_ms(epoch_ms(ts)))) AS BIGINT) AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  ROUND(SUM(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** 2-hour windows sliding by 1 hour (every event lands in 2 windows) —
    * Spark expands via its window generator; the oracle expands
    * explicitly with a 2-element offset unnest. */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(expr("timestamp_millis(ts div 1000000)").as("ts"),
        col("event_type"))
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast("long").as("window_start"),
        col("event_type"), col("n_events"))

  val slidingWindowSql: String =
    """WITH expanded AS (
      |  SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR,
      |      epoch_ms(epoch_ms(ts)))) AS BIGINT) - off * 3600 AS window_start,
      |    event_type
      |  FROM events, unnest([0, 1]) u(off)
      |)
      |SELECT window_start, event_type, COUNT(*) AS n_events
      |FROM expanded GROUP BY 1, 2""".stripMargin

  // ---- pivot-style conditional aggregation ----------------------------------------

  /** Event counts per hour-of-day, one column per event type (map-side
    * conditional agg — single scan, single shuffle on 24 keys). */
  def pivotHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select((expr("ts div 1000000") / 3600000L).cast("long").mod(24)
        .as("hour_of_day"), col("event_type"))
    def cnt(t: String) =
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    ev.groupBy(col("hour_of_day"))
      .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"),
        cnt("error"))
  }

  val pivotHourlySql: String =
    """SELECT (epoch_ms(ts) // 3600000) % 24 AS hour_of_day,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
      |FROM events GROUP BY 1""".stripMargin

  // ---- JSON extraction --------------------------------------------------------------

  /** Typed extraction from the `props` JSON column. */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("distinct_k"),
        count(lit(1)).as("cnt"))

  val jsonPropsSql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS distinct_k,
      |  COUNT(*) AS cnt
      |FROM events GROUP BY event_type""".stripMargin

  /** Explicit hot-key-split join — the manual skew remedy for when AQE's
    * skew-split can't save you (it subdivides a sort-merge partition, but
    * the hot key's rows still all visit reducers; if ONE key carries 10%
    * of 100 TB, you want it to never enter the exchange at all). Shape:
    * a cheap aggregate ranks keys by frequency (TakeOrderedAndProject —
    * no global sort), the top-16 "hot" set broadcasts three ways: to
    * semi/anti-split the fact scan, and to slice the dim rows joined on
    * the broadcast path. Hot fact rows join map-side against the
    * broadcast dim slice; only cold keys — bounded per-key volume by
    * construction — go through the shuffled join. Union, then aggregate.
    * The split is invisible to semantics (oracle: the plain join). The
    * hot set is deterministic (count desc, key asc tiebreak). */
  def skewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("user_id"), col("value"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val hot = ev.groupBy(col("user_id")).agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("user_id")).limit(16).select("user_id")
    val evHot = ev.join(broadcast(hot), Seq("user_id"), "left_semi")
    val evCold = ev.join(broadcast(hot), Seq("user_id"), "left_anti")
    val custHot = cust.join(broadcast(hot), Seq("user_id"), "left_semi")
    evHot.join(broadcast(custHot), Seq("user_id"))
      .unionByName(evCold.join(cust, Seq("user_id")))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  val skewJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |  ROUND(SUM(value), 2) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** UNPIVOT (wide → long) via `stack` — completes the pivot surface
    * (`q_pivot_hourly` is the long → wide direction). Unpivot happens
    * AFTER the per-flag aggregation, so the stack multiplies 6 grouped
    * rows into 18, never the fact table — the right order at 100 TB
    * (unpivoting raw lineitem would 3× the scan's row stream before the
    * shuffle for nothing). */
  def unpivotMeasures(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        count(lit(1)).as("n_items"))
      .selectExpr("l_returnflag",
        """stack(3,
          |  'sum_qty', sum_qty,
          |  'sum_base_price', sum_base_price,
          |  'n_items', CAST(n_items AS DOUBLE)) AS (measure, value)""".stripMargin)

  val unpivotMeasuresSql: String =
    """WITH agg AS (
      |  SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sq,
      |    ROUND(SUM(l_extendedprice), 2) AS sp, COUNT(*) AS n
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, 'sum_qty' AS measure, sq AS value FROM agg
      |UNION ALL
      |SELECT l_returnflag, 'sum_base_price' AS measure, sp AS value FROM agg
      |UNION ALL
      |SELECT l_returnflag, 'n_items' AS measure, CAST(n AS DOUBLE) AS value
      |FROM agg""".stripMargin

  /** Time-series gap fill with last-value carry-forward — the resample
    * primitive for sensor/metric streams: per-user hourly series from
    * first to last observed hour, missing hours synthesized by a
    * row-local `sequence` explode of the per-user (min, max) span (the
    * skeleton is generated where the span row lives — never a cross
    * join against a calendar table), observed hours left-joined back,
    * gaps filled by `last(ignoreNulls)` over the per-user hour order,
    * rolled up to one audit row per user. Shuffles: the hourly agg, the
    * skeleton join, the per-user window — all on user-bounded data. */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("date_trunc('hour', timestamp_millis(ts div 1000000))").as("h"),
        col("value"))
      .groupBy(col("user_id"), col("h"))
      .agg(round(sum(col("value")), 2).as("v"))
    val skeleton = hourly.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    skeleton.join(hourly, Seq("user_id", "h"), "left_outer")
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_hours"),
        (count(lit(1)) - count(col("v"))).as("n_gaps"),
        round(sum(col("v_filled")), 2).as("sum_filled"))
  }

  val gapFillSql: String =
    """WITH hourly AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h, ROUND(SUM(value), 2) AS v
      |  FROM events GROUP BY user_id, date_trunc('hour', ts)
      |), skeleton AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly
      |        GROUP BY user_id)
      |), filled AS (
      |  SELECT s.user_id, s.h, hourly.v,
      |    last_value(hourly.v IGNORE NULLS) OVER (PARTITION BY s.user_id
      |      ORDER BY s.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS v_filled
      |  FROM skeleton s LEFT JOIN hourly
      |    ON s.user_id = hourly.user_id AND s.h = hourly.h
      |)
      |SELECT user_id, COUNT(*) AS n_hours,
      |  COUNT(*) - COUNT(v) AS n_gaps,
      |  ROUND(SUM(v_filled), 2) AS sum_filled
      |FROM filled GROUP BY user_id""".stripMargin

  // ---- slowly-changing-dimension (type 2) join --------------------------------

  /** Effective-dated dimension join — the SCD-2 warehouse classic: each
    * customer carries TWO dimension versions (market segment, then an
    * upgraded segment from a per-customer split date), and every order
    * joins to the version whose [valid_from, valid_to) interval covers
    * its order date. The versions are synthesized deterministically
    * (split = 1994-01-01 + custkey % 1461 days) so the DuckDB oracle
    * replays the identical dimension.
    *
    * Shape for scale: the right SCD-2 plan is a plain HASH equi-join on
    * the natural key with the interval test as a residual predicate —
    * never a range join: versions-per-key is small (2 here, rarely >10 in
    * practice), so each probe tests a handful of intervals inline. The
    * dim stays unhinted — AQE broadcasts it while it fits (dims usually
    * do even at 100 TB) and falls back to shuffle-hash when it doesn't. */
  def scd2Join(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val split = date_add(to_date(lit("1994-01-01")),
      (col("c_custkey") % 1461).cast("int"))
    val v1 = cust.select(col("c_custkey"),
      col("c_mktsegment").as("segment"),
      to_date(lit("1992-01-01")).as("valid_from"), split.as("valid_to"))
    val v2 = cust.select(col("c_custkey"),
      concat(lit("UPG-"), col("c_mktsegment")).as("segment"),
      split.as("valid_from"), to_date(lit("9999-01-01")).as("valid_to"))
    val dim = v1.unionByName(v2)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
        col("o_totalprice"))
      .join(dim, col("o_custkey") === col("c_custkey") &&
        col("od") >= col("valid_from") && col("od") < col("valid_to"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  val scd2JoinSql: String =
    """WITH splitd AS (
      |  SELECT c_custkey, c_mktsegment,
      |    DATE '1994-01-01' + CAST(c_custkey % 1461 AS INTEGER) AS sp
      |  FROM customer
      |), dim AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |    DATE '1992-01-01' AS valid_from, sp AS valid_to FROM splitd
      |  UNION ALL
      |  SELECT c_custkey, 'UPG-' || c_mktsegment, sp, DATE '9999-01-01'
      |  FROM splitd
      |)
      |SELECT segment, COUNT(*) AS n_orders,
      |  ROUND(SUM(o_totalprice), 2) AS revenue
      |FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
      |  AND CAST(o.o_orderdate AS DATE) >= d.valid_from
      |  AND CAST(o.o_orderdate AS DATE) < d.valid_to
      |GROUP BY segment""".stripMargin

  // ---- equi-height histogram (ANALYZE-stats shape) -----------------------------

  /** Equi-height histogram of order totals — the optimizer-statistics
    * primitive (`ANALYZE TABLE ... COMPUTE STATISTICS` histograms): 8
    * buckets of near-equal row count with per-bucket [lo, hi] bounds and
    * exact counts. Bucket membership is floor(percent_rank · B) over the
    * unique (price, orderkey) ordering, computed by
    * [[distributedPercentRank]] — range-bucket + broadcast offsets, so
    * NO single-partition window anywhere (the trap `ntile` over a global
    * ORDER BY would be at 100 TB). percent_rank is the same
    * (rank−1)/(n−1) double in both engines, so the floor is
    * deterministic cross-engine. */
  /** Total bytes under a table directory — the scale proxy the
    * equi-histogram gate keys on (guide §2.5: derive the regime from
    * input size, not from a constant tuned to one SF). It walks the LOCAL
    * filesystem: a non-local sfDir (hdfs:, s3a:) reads as 0 bytes and
    * always takes the small-input branch — still correct, as both
    * branches bucket identically, only not the faster one at scale. */
  private def dirBytes(path: String): Long = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(root)
  }

  def equiHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    // Round 16 (guide §2.3 two-level aggregate / pre-bin, §2.5 right-size
    // to the data): the 8 output buckets are defined entirely by the 7
    // BOUNDARY rank positions, so at scale the per-row percent_rank — a
    // full exchange + per-bucket sort of the whole table through
    // distributedPercentRank — is never materialized. The edge shape:
    //  1. fine range-bucket census (codegen agg) -> per-bucket exclusive
    //     offsets + total n (window over <=1024 aggregate rows, the dPR
    //     offsets pattern);
    //  2. CANDIDATE fine buckets = those whose global index range crosses
    //     an output-bucket boundary, decided per aggregate row with THE
    //     SAME IEEE double chain the per-row formulation used
    //     (least(floor(cast(i as double)/(n-1)*8), 7), monotone in i);
    //  3. rows of candidate buckets only (a ~7/1024 fraction) get an
    //     in-bucket row_number -> global index i; a row is a boundary
    //     EDGE iff bucketOf(i) > bucketOf(i-1), with multiplicity
    //     bucketOf(i)-bucketOf(i-1) (empty output buckets stack edges);
    //  4. the <=7 edge (price, orderkey) values aggregate into ONE array
    //     row, broadcast back, and every row's bucket = #edges <= row —
    //     a codegen size(filter(...)) over <=7 literals, NO exchange and
    //     NO sort of the table anywhere — then the 8-row min/max/count.
    // Equality: the fine-bucket cast is order-preserving and o_orderkey
    // is unique, so global index i = rank-1 in (price, orderkey) order
    // exactly as distributedPercentRank assigned it, and
    // |{b : idx_b <= i}| = least(floor(i/(n-1)*8), 7) by monotonicity.
    // MEASURED both ways (steady pass2, this box): edge shape 1.61/1.53/
    // 2.99 s vs dPR shape 1.12/1.60/5.04 s at sf0.1/sf1/sf10 — the edge
    // shape's extra sequential broadcast rounds lose 0.5 s where the
    // query is driver-round-bound, and win 1.7x (growing with SF: the
    // removed exchange+sort is the table) where it is data-bound. Gate on
    // input bytes (conf graft.equiHist.smallInputMaxBytes, default 8 MiB;
    // sf0.1 orders = 2.7 MB, sf1 = 21.7 MB), the unionFindLabels
    // discipline. EquiHistGateSpec pins both branches equal.
    val b = 8
    val priced = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val gateKey = "graft.equiHist.smallInputMaxBytes"
    val smallMax = spark.conf.getOption(gateKey).map(s =>
      s.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$gateKey must be a byte count (a long), got '$s'")))
      .getOrElse(8L << 20)
    if (dirBytes(s"$sfDir/orders.parquet") <= smallMax) {
      distributedPercentRank(priced, col("o_totalprice"), col("o_orderkey"),
          "pct")
        .withColumn("bucket",
          least(floor(col("pct") * b), lit(b - 1L)).cast("int"))
        .groupBy(col("bucket"))
        .agg(round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"),
          count(lit(1)).as("n"))
    } else {
      val fine = 1024
      val vv = col("o_totalprice").cast("double")
      val stats = priced.agg(min(vv).as("_mn"), max(vv).as("_mx"))
      val bucketed = priced.crossJoin(broadcast(stats)) // 1-row stats: BNLJ
        .withColumn("_bkt", least(greatest(
          floor((vv - col("_mn")) /
            ((col("_mx") - col("_mn") + lit(1e-9)) / fine)),
          lit(0L)), lit(fine - 1L)))
        .drop("_mn", "_mx")
      val w = Window.orderBy(col("_bkt"))
      val offsets = bucketed.groupBy(col("_bkt")).agg(count(lit(1)).as("_c"))
        .select(col("_bkt"),
          (sum(col("_c")).over(w) - col("_c")).as("_off"), col("_c"),
          sum(col("_c")).over(Window.partitionBy()).as("_n"))
      // bucketOf(i): EXACTLY the dPR pct + floor chain (cast-to-double
      // division by the long (n-1), multiply by the int-literal bucket
      // count, floor, clamp) so boundary decisions reproduce the per-row
      // doubles bit-for-bit
      def bOf(i: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        least(floor((i.cast("double") / (n - lit(1L))) * b), lit(b - 1L))
      val cand = offsets.filter(col("_n") > 1 &&
        bOf(col("_off") + col("_c") - 1, col("_n")) >
          bOf(greatest(col("_off") - 1, lit(0L)), col("_n")))
      val wB = Window.partitionBy(col("_bkt"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val edgeRows = bucketed.join(broadcast(cand), Seq("_bkt"))
        .withColumn("_i", col("_off") + row_number().over(wB) - lit(1L))
        .withColumn("_bhi", bOf(col("_i"), col("_n")))
        .withColumn("_blo", bOf(greatest(col("_i") - 1, lit(0L)), col("_n")))
        .filter(col("_i") > 0 && col("_bhi") > col("_blo"))
      // collect_list over zero rows is [], so an empty corpus / n<=1
      // yields zero edges and every row lands in bucket 0 (pct=0 behavior)
      val edges = edgeRows.agg(flatten(collect_list(array_repeat(
        struct(col("o_totalprice").as("p"), col("o_orderkey").as("k")),
        (col("_bhi") - col("_blo")).cast("int")))).as("_earr"))
      priced.crossJoin(broadcast(edges)) // 1-row edge array: BNLJ
        .select(size(expr("filter(_earr, e -> e.p < o_totalprice or " +
          "(e.p = o_totalprice and e.k <= o_orderkey))"))
          .cast("int").as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"),
          count(lit(1)).as("n"))
    }
  }

  val equiHistogramSql: String =
    """WITH pct AS (
      |  SELECT o_totalprice,
      |    percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr
      |  FROM orders
      |)
      |SELECT CAST(LEAST(FLOOR(pr * 8), 7) AS INT) AS bucket,
      |  ROUND(MIN(o_totalprice), 2) AS lo,
      |  ROUND(MAX(o_totalprice), 2) AS hi, COUNT(*) AS n
      |FROM pct GROUP BY 1""".stripMargin

  def queries: Map[String, Q] = Map(
    "q_equi_histogram"    -> Q(equiHistogramSql)(equiHistogram),
    "q_scd2_join"         -> Q(scd2JoinSql)(scd2Join),
    "q1_pricing_summary"  -> Q(q1Sql)(q1Pricing),
    "q3_shipping_priority"-> Q(q3Sql)(q3Shipping),
    "q4_order_priority"   -> Q(q4Sql)(q4OrderPriority),
    "q5_nation_revenue"   -> Q(q5Sql)(q5NationRevenue),
    "q14_promo_share"     -> Q(q14Sql)(q14PromoShare),
    "q18_large_orders"    -> Q(q18Sql)(q18LargeOrders),
    "q_semi_anti_join"    -> Q(semiAntiSql)(semiAnti),
    "q_outer_join_hist"   -> Q(outerCountSql)(outerCount),
    "q_window_topk"       -> Q(windowTopKSql)(windowTopK),
    "q_topk_custom"       -> Q(topKCustomSql)(topKCustom),
    "q_window_running"    -> Q(windowRunningSql)(windowRunning),
    "q_range_frame"       -> Q(rangeFrameSql)(rangeFrame),
    "q_window_funcs"      -> Q(windowFuncsSql)(windowFuncs),
    "q_rollup_sales"      -> Q(rollupSalesSql)(rollupSales),
    "q_cube_sales"        -> Q(cubeSalesSql)(cubeSales),
    "q_hll_union"         -> Q(hllUnionSql)(hllUnion),
    "q_quantiles"         -> Q(quantilesSql)(quantiles),
    "q_approx_quantiles"  -> Q(approxQuantilesSql)(approxQuantiles),
    "q_zorder_layout"     -> Q(zorderLayoutSql)(zorderLayout),
    "q_monthly_revenue"   -> Q(monthlyRevenueSql)(monthlyRevenue),
    "q_corr_stats"        -> Q(corrStatsSql)(corrStats),
    "q_regression"        -> Q(regressionSql)(regression),
    "q_sample_estimate"   -> Q(sampleEstimateSql)(sampleEstimate),
    "q_table_profile"     -> Q(tableProfileSql)(tableProfile),
    "q_funnel"            -> Q(funnelSql)(funnel),
    "q_transitions"       -> Q(transitionsSql)(transitions),
    "q_salted_agg"        -> Q(saltedAggSql)(saltedAgg),
    "q_skew_join"         -> Q(skewJoinSql)(skewJoin),
    "q_unpivot"           -> Q(unpivotMeasuresSql)(unpivotMeasures),
    "q_gap_fill"          -> Q(gapFillSql)(gapFill),
    "q_approx_distinct"   -> Q(approxDistinctSql)(approxDistinct),
    "q_outlier_gate"      -> Q(outlierGateSql)(outlierGate),
    "q_setops"            -> Q(setOpsSql)(setOps),
    "q_sessionize"        -> Q(sessionizeSql)(sessionize),
    "q_tumbling_window"   -> Q(tumblingWindowSql)(tumblingWindow),
    "q_sliding_window"    -> Q(slidingWindowSql)(slidingWindow),
    "q_pivot_hourly"      -> Q(pivotHourlySql)(pivotHourly),
    "q_json_props"        -> Q(jsonPropsSql)(jsonProps))
}
