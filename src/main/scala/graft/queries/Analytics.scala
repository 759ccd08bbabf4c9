package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational / analytics operators over the TPC-H-ish star schema.
  *
  * Design notes (100 TB):
  *   - Every query is fully declarative DataFrame code: Catalyst pushes
  *     filters/projections to the parquet scan and picks shuffle vs
  *     broadcast joins (we force `broadcast` for dims that are small by
  *     construction: region/nation/supplier).
  *   - Aggregations rely on partial (map-side) aggregation; no driver
  *     collects anywhere.
  *   - Double-typed aggregates are rounded (2dp sums / 4dp avgs) so
  *     results are stable across summation orders — required both for
  *     distributed determinism and for the DuckDB oracle compare.
  *
  * Reference scope: the reference app (see
  * /root/reference/src/main/scala/com/sg/job/streaming/StreamingJobExecutor.scala:49)
  * materializes CDC state into tables that are then queried by Dremio /
  * Superset; this module is the query surface over such tables.
  */
object Analytics {

  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** TPC-H Q1-style pricing summary: multi-aggregate groupBy, the
    * canonical partial-agg scan. One shuffle on (returnflag, linestatus)
    * — 6 groups, trivially skew-free.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(revenue), 2).as("sum_disc_price"),
        round(sum(revenue * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_base_price,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      | round(avg(l_quantity), 4) AS avg_qty,
      | round(avg(l_extendedprice), 4) AS avg_price,
      | round(avg(l_discount), 4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style shipping priority: selective filters on both join
    * sides reach the scans (PushedFilters), then a two-step shuffle join
    * (customer⋈orders on custkey, ⋈lineitem on orderkey) and a top-N.
    * customer qualifies for broadcast at any SF where dims stay small
    * relative to facts.
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1999-06-30").cast("timestamp")
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"), col("o_orderpriority"))
      .agg(round(sum(revenue), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      | JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1999-06-30 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1999-06-30 00:00:00'
      |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-style local supplier volume: a 6-table join. region and
    * nation are broadcast (tiny by schema); customer/supplier co-filter
    * on nationkey. One fact shuffle, dims broadcast — the plan to want
    * at 100 TB.
    *
    * Revenue is exact (the q9 pattern): `round(sum(double), 2)` depends
    * on summation order when the sum lands on a half-cent (a generated
    * corpus hit 242948.765 as 242948.76499999998, rounded down), so
    * each term is computed in integer 1e-4 dollars (cents × percent),
    * summed as BIGINT and rounded half-up to cents in integer
    * arithmetic before the one division.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.region(spark, dir))
    val nation = broadcast(Tables.nation(spark, dir))
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")
        * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
      .select(col("n_name"), (expr("(rev_e4 + 50) div 100") / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name, CAST((sum(rev_e4) + 50) // 100 AS DOUBLE) / 100.0 AS revenue
      |FROM (
      | SELECT n_name, CAST(round(l_extendedprice * 100) AS BIGINT)
      |   * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4
      | FROM customer
      | JOIN orders   ON c_custkey = o_custkey
      | JOIN lineitem ON o_orderkey = l_orderkey
      | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      | JOIN nation   ON s_nationkey = n_nationkey
      | JOIN region   ON n_regionkey = r_regionkey
      | WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |   AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00') t
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q6-style forecast revenue: the pure scan-efficiency query.
    * All three predicates push to parquet; projection prunes to 4 cols.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
  }

  val q6Sql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Decimal-money face of Q6 (see [[q1PricingDecimal]] for the
    * discipline): price×discount in exact DECIMAL — (12,2)×(4,2) =
    * (17,4), no precision loss — summed exactly, the exact 4dp sum
    * converted to double at the boundary (never rescaled first).
    * Filters stay on the raw double columns so the selected row set is
    * identical to [[q6ForecastRevenue]]'s.
    */
  def q6RevenueDecimal(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
          * col("l_discount").cast("decimal(4,2)"))
        .cast("double").as("revenue"))
  }

  val q6DecimalSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |   * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Decimal-money face of Q1 — TPC-H's native DECIMAL(12,2) semantics,
    * proving EXACT-sum parity with the oracle and no floating-point
    * mitigation: every money column is cast to decimal at the scan and
    * all arithmetic stays decimal (associativity-exact, so partial
    * aggregation / AQE re-partitioning can never perturb a cent).
    * Widths are chosen so Spark never hits its precision-loss
    * rescaling: the (1±disc/tax) factors are DECIMAL(4,2), keeping the
    * triple product at (24,6) — exact in both engines. The exact sums
    * convert to DOUBLE at the very end WITHOUT rescaling first. At the
    * verified scale factors (≤ sf0.1) the unscaled values stay below
    * 2^53, so both engines produce the identical correctly-rounded
    * double (representation only, the arithmetic never touched
    * floats). That bit-parity claim is scale-bound: at sf1+ the
    * scale-6 sum_charge exceeds 2^53 unscaled, where DuckDB's
    * int128-convert-then-divide decimal→double path may differ from
    * Spark's correctly-rounded BigDecimal.doubleValue by an ulp — a
    * larger-SF oracle compare would need an ulp tolerance, not a new
    * query shape. NO intermediate decimal
    * downscale: Spark's scale-reducing cast rounds HALF_UP while
    * DuckDB's TRUNCATES (measured: 1.005→1.00, .2854→.28), so a
    * "cents" cast before the double conversion diverges by a cent.
    */
  def q1PricingDecimal(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast("decimal(4,2)")
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val discF = one - col("l_discount").cast("decimal(4,2)")
    val taxF = one + col("l_tax").cast("decimal(4,2)")
    def money(c: Column): Column = c.cast("double")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        money(sum(col("l_quantity").cast("decimal(12,2)"))).as("sum_qty"),
        money(sum(price)).as("sum_base_price"),
        money(sum(price * discF)).as("sum_disc_price"),
        money(sum(price * discF * taxF)).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1DecimalSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |   * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |   * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |   * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q10-style returned-item ranking: 4-way join + top-N. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-07-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    Tables.customer(spark, dir)
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(round(sum(revenue), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, n_name,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer
      | JOIN orders   ON c_custkey = o_custkey
      | JOIN lineitem ON o_orderkey = l_orderkey
      | JOIN nation   ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Window function: top-3 customers by spend within each nation.
    * Spend agg shuffles on custkey; rank shuffles on nationkey. The
    * rank's partition count = #nations — fine because the spend agg
    * already reduced cardinality to #customers.
    */
  def topCustomersWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey", "c_name", "c_nationkey")
      .agg(round(sum("o_totalprice"), 2).as("total_spend"))
    val w = Window.partitionBy("c_nationkey").orderBy(col("total_spend").desc, col("c_custkey"))
    spend.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "c_custkey", "c_name", "total_spend", "rnk")
      .orderBy("n_name", "rnk")
  }

  val topCustomersSql: String =
    """WITH spend AS (
      |  SELECT c_custkey, c_name, c_nationkey, round(sum(o_totalprice), 2) AS total_spend
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey, c_name, c_nationkey),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY c_nationkey
      |            ORDER BY total_spend DESC, c_custkey) AS INTEGER) AS rnk
      |  FROM spend)
      |SELECT n_name, c_custkey, c_name, total_spend, rnk
      |FROM ranked JOIN nation ON c_nationkey = n_nationkey
      |WHERE rnk <= 3
      |ORDER BY n_name, rnk""".stripMargin

  /** Moving average over a per-day event aggregate (window frame). */
  def movingAvgEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(round(sum("value"), 2).as("daily_value"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    daily.withColumn("ma3", round(avg("daily_value").over(w), 4))
      .orderBy("event_type", "day")
  }

  val movingAvgSql: String =
    """WITH daily AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, round(sum(value), 2) AS daily_value
      |  FROM events GROUP BY 1, 2)
      |SELECT day, event_type, daily_value,
      | round(avg(daily_value) OVER (PARTITION BY event_type ORDER BY day
      |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
      |FROM daily ORDER BY event_type, day""".stripMargin

  /** ROLLUP aggregation over two dimensions. */
  def rollupSales(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("total"), col("n"))
      .orderBy("priority", "status")
  }

  val rollupSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       round(sum(o_totalprice), 2) AS total, count(*) AS n
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** Anti join: customers that never placed an URGENT order. */
  def antiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Semi join: high-balance customers having at least one open order. */
  def semiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    val open = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
    Tables.customer(spark, dir).filter(col("c_acctbal") > 9000)
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_acctbal > 9000 AND EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** Exact distinct counting per group (the small-cardinality path). */
  def distinctUsersExact(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("events_n"))
      .orderBy("event_type")
  }

  val distinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS events_n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Approximate distinct (HyperLogLog++) — the 100 TB path where exact
    * distinct would shuffle every key. No oracle (approx): rows-only.
    */
  def distinctUsersApprox(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .orderBy("event_type")
  }

  /** Mergeable HLL sketches (Apache DataSketches via Spark 4's
    * hll_sketch_agg): build per-(event_type, day) sketches, then
    * hll_union_agg rolls days up to the type level WITHOUT rescanning —
    * the incremental-distinct pattern at 100 TB (persist daily sketch
    * parquet, union for any window). Estimates ≈ exact at this
    * cardinality; rows-only + spec asserts union == direct sketch.
    */
  def distinctUsersSketch(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sketch"))
    daily
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true))).as("est_users"),
        count(lit(1)).as("n_daily_sketches"))
      .orderBy("event_type")
  }

  /** KMV (k-minimum-values / bottom-k) distinct estimate — the
    * CERTIFIED member of the distinct-sketch family. Same bounded
    * mergeable state shape as the HLL face (k 60-bit keys per group,
    * map-side partials via the [[graft.functions.BottomKSketch]]
    * aggregator, shard sketches union to exactly the sketch of the
    * union), but every ingredient is the replayable md5 coin, so the
    * oracle rebuilds the k-th minimum hash and the (k−1)/u_(k)
    * estimator verbatim instead of tolerating an engine-private
    * sketch: groups under k distinct keys degenerate to the EXACT
    * count, groups over it estimate with standard error ~1/√(k−2).
    * The 100 TB story is the HLL face's with certification added —
    * state is k longs per group, nothing rescans.
    */
  def distinctUsersKmv(spark: SparkSession, dir: String,
                       k: Int = graft.functions.QuantileSketch.DefaultK): DataFrame = {
    import graft.functions.QuantileSketch
    val agg = QuantileSketch.bottomK(k)
    val kth = element_at(col("sketch"), -1).getField("_1").cast("double")
    Tables.events(spark, dir)
      .select(col("event_type"), QuantileSketch.hashKey(col("user_id")).as("hkey"))
      .groupBy("event_type")
      .agg(agg(col("hkey"), lit(0.0)).as("sketch"), count(lit(1)).as("events_n"))
      .select(col("event_type"),
        size(col("sketch")).as("sketch_size"),
        // under k distinct keys the sketch IS the distinct set; at k
        // the estimator is (k−1) / u_(k) with u the hash normalized
        // by the 60-bit key space — both branches one IEEE division
        // from exact integers, so the oracle replays them bit-for-bit
        when(size(col("sketch")) < k, size(col("sketch")).cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * lit(math.pow(2, 60)) / kth, 4))
          .as("est_users"),
        col("events_n"))
      .orderBy("event_type")
  }

  def distinctUsersKmvSql(k: Int = graft.functions.QuantileSketch.DefaultK): String =
    s"""WITH h AS (
       |  SELECT event_type,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hkey
       |  FROM events),
       |g AS (SELECT event_type, count(*) AS events_n FROM h GROUP BY 1),
       |d AS (SELECT DISTINCT event_type, hkey FROM h),
       |r AS (SELECT event_type, hkey,
       |        row_number() OVER (PARTITION BY event_type ORDER BY hkey) AS rn,
       |        count(*) OVER (PARTITION BY event_type) AS nd
       |      FROM d)
       |SELECT g.event_type,
       |  CAST(least(max(r.nd), $k) AS INTEGER) AS sketch_size,
       |  CASE WHEN max(r.nd) < $k THEN CAST(max(r.nd) AS DOUBLE)
       |       ELSE round(${(k - 1).toDouble} * ${math.pow(2, 60)}
       |         / CAST(max(CASE WHEN r.rn = $k THEN r.hkey END) AS DOUBLE), 4)
       |  END AS est_users,
       |  max(g.events_n) AS events_n
       |FROM g JOIN r USING (event_type)
       |GROUP BY g.event_type ORDER BY g.event_type""".stripMargin

  /** Deterministic stratified sample — the downsample-by-stratum
    * primitive a training-data pipeline uses for corpus mixing: keep a
    * hash-uniform half of the over-represented stratum ('en'), all of
    * the rest. Hash-threshold sampling is a pure map-side filter — no
    * sampler state, no stratum enumeration, and (unlike a sampleBy
    * whose fractions map needs a driver-side distinct+collect first)
    * ONE pass over the corpus. Reproducible across runs AND engines:
    * the per-row coin is a 32-bit md5 prefix of the doc id (r10 —
    * previously an engine-private hash, which forced a rows-only
    * check; the md5 coin lets the oracle replay the exact sample, so
    * the entry is hash-certified like weighted_sample).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("lang") =!= "en" ||
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100 < 50)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), round(avg("n_chars"), 4).as("avg_chars"))
      .orderBy("lang")
  }

  val stratifiedSampleSql: String =
    """SELECT lang, count(*) AS n_sampled, round(avg(n_chars), 4) AS avg_chars
      |FROM documents
      |WHERE lang <> 'en'
      |   OR ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 < 50
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Salted skew join: the fact side's hot keys are spread over SALTS
    * sub-keys; the build side is replicated SALTS×. Result must be
    * identical to the plain join (oracle = plain SQL join).
    *
    * The salt here is `pmod(l_linenumber - 1, 7)` so the oracle stays
    * deterministic; a production skew fix salts with `hash`/`rand` to
    * spread a hot key uniformly regardless of companion columns (and
    * AQE's skewJoin handles moderate skew without any salting).
    */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    // l_linenumber takes exactly the 7 values 1..7: seven salt buckets
    // (0..6) means EVERY replicated build-side slice is reachable — a
    // salt count above the source cardinality pays replication for
    // buckets that can never match
    val salts = 7
    val l = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_linenumber").cast("int") - 1, lit(salts)))
    val o = Tables.orders(spark, dir)
      .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy("o_orderpriority")
      .agg(round(sum(revenue), 2).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  val skewSaltedSql: String =
    """SELECT o_orderpriority,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      | count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Broadcast dim join: region⋈nation broadcast into customer. */
  def broadcastDimJoin(spark: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      Tables.nation(spark, dir)
        .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey")))
    Tables.customer(spark, dir)
      .join(dims, col("c_nationkey") === col("n_nationkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("customers"), round(avg("c_acctbal"), 4).as("avg_bal"))
      .orderBy("r_name")
  }

  val broadcastDimSql: String =
    """SELECT r_name, count(*) AS customers, round(avg(c_acctbal), 4) AS avg_bal
      |FROM customer
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Range-bucketed aggregation (histogram-style). */
  def rangeBucketAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .withColumn("bucket", floor(col("o_totalprice") / 50000).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("bucket")
  }

  val rangeBucketSql: String =
    """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
      |       count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin

  /** TPC-H Q7-style volume shipping: revenue between two nations in
    * either direction, by (supplier nation, customer nation, year).
    *
    * Scale shape (the classic nested-dim Q7 plan): the 2-row filtered
    * nation dim restricts supplier and customer FIRST, so both facts
    * shrink to the qualifying ~2/25 of rows *before* the only full
    * fact⋈fact shuffle (l⋈o on orderkey):
    *   - supplier⋈nation(2 rows) → force-broadcast into lineitem
    *     (map-side; supplier is the smallest dim, safe at any SF);
    *   - customer⋈nation(2 rows) → joined into orders un-hinted: at
    *     test scale stats/AQE pick broadcast, at 100 TB the filtered
    *     customer may exceed broadcast size and a custkey shuffle of
    *     orders is the correct fallback — the planner decides;
    *   - then (reduced l) ⋈ (reduced o) shuffle + the direction filter.
    * The earlier formulation joined all four tables in full and applied
    * the nation restriction last — shuffling 100% of lineitem+orders to
    * keep ~8%.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = Tables.nation(spark, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .select(col("c_custkey"), col("cust_nation"))
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"),
        col("l_discount"), col("supp_nation"))
    val o = Tables.orders(spark, dir)
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
              (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(revenue), 2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      | CAST(year(l_shipdate) AS INTEGER) AS l_year,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM supplier
      | JOIN lineitem ON s_suppkey = l_suppkey
      | JOIN orders   ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation n1 ON s_nationkey = n1.n_nationkey
      | JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q14-style promo revenue share: scalar percentage metric. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1996-04-01").cast("timestamp"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(round(
        sum(when(col("p_type") === "PROMO", revenue).otherwise(lit(0.0))) * 100.0
          / sum(revenue), 4).as("promo_revenue_pct"))
  }

  val q14Sql: String =
    """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
      |   THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
      |   / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  /** TPC-H Q18-style large orders: pre-aggregate the fact to order
    * grain (map-side partial agg), filter on the aggregate, THEN join
    * dims — the aggregate-before-join shape that keeps the join input
    * tiny at scale.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  val q18Sql: String =
    """WITH big AS (
      |  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 150)
      |SELECT c_custkey, c_name, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice, sum_qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  /** Ship-delay accounting by order priority (the Q12 shape on this
    * schema): days between order and ship date, late-line counts.
    */
  def shipDelayPriority(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days",
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("delay_days") > 90, 1L).otherwise(0L)).as("late_lines"),
        round(avg("delay_days"), 4).as("avg_delay_days"))
      .orderBy("o_orderpriority")
  }

  val shipDelaySql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      | CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90
      |     THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
      | round(avg(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))), 4) AS avg_delay_days
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Deterministic train/val/test assignment for training-data
    * pipelines: split = hash-free affine bucket of the stable doc_id
    * (reproducible across engines and runs, no sampling state), with
    * per-split accounting. 80/10/10.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(col("doc_id") * 40503L, lit(100L))
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("split")
  }

  val splitAssignSql: String =
    """SELECT CASE WHEN (doc_id * 40503) % 100 < 80 THEN 'train'
      |            WHEN (doc_id * 40503) % 100 < 90 THEN 'val'
      |            ELSE 'test' END AS split,
      | count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
      | min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` share the definition, so this is
    * oracle-exact — unlike the t-digest `percentile_approx` scale path).
    */
  def pricePercentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
      .orderBy("o_orderpriority")
  }

  val pricePercentilesSql: String =
    """SELECT o_orderpriority,
      | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      | round(quantile_cont(o_totalprice, 0.99), 4) AS p99
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Approximate percentiles (t-digest `percentile_approx`) — the
    * mergeable scale path where exact percentile's full sort per group
    * won't fly. Rows-only (approx); accuracy vs exact spec-checked.
    */
  def pricePercentilesApprox(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile_approx(o_totalprice, 0.5, 1000)").as("p50"),
        expr("percentile_approx(o_totalprice, 0.9, 1000)").as("p90"))
      .orderBy("o_orderpriority")
  }

  /** CUBE aggregation: all 2^k grouping-set combinations. */
  def cubeSales(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total"), col("n"))
      .orderBy("status", "priority")
  }

  val cubeSalesSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       round(sum(o_totalprice), 2) AS total, count(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * status totals, per-year totals, and the grand total in ONE
    * aggregation pass — Catalyst's Expand replicates each input row
    * once per set, so it stays a single scan + single shuffle where
    * three separate groupBys would scan the fact three times. The
    * distinct-on-Expand cost q21 dodged does not apply (plain sums
    * only).
    */
  def groupingSetsSales(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_year")), Seq.empty),
        col("o_orderstatus"), col("o_year"))
      .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_year").cast("string"), lit("ALL")).as("o_year"),
        col("total"), col("n"))
      .orderBy("status", "o_year")
  }

  val groupingSetsSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(CAST(CAST(year(o_orderdate) AS INTEGER) AS VARCHAR), 'ALL') AS o_year,
      |       round(sum(o_totalprice), 2) AS total, count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
      |ORDER BY status, o_year""".stripMargin

  /** TPC-H Q22-style: per market segment, rich-but-dormant customers —
    * balance above the global positive-balance average (a broadcast
    * scalar, not a collect) with no order placed since the cutoff (anti
    * join against the filtered fact; the filter reaches the orders scan
    * so the anti-join build side is already pruned).
    */
  def q22RichNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2000-01-01").cast("timestamp")
    val c = Tables.customer(spark, dir)
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg(avg("c_acctbal").as("avg_bal"))
    val recent = Tables.orders(spark, dir).filter(col("o_orderdate") >= cutoff)
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  val q22Sql: String =
    """SELECT c_mktsegment, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
      |FROM customer
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Pivot: order counts by priority × status, statuses as columns. */
  def pivotOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority")
  }

  val pivotOrdersSql: String =
    """SELECT o_orderpriority,
      | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
      | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Unpivot (melt) — the inverse API face of [[pivotOrders]]: the
    * wide per-status count columns fold back into (priority, status, n)
    * rows via the `stack` generator. Round-tripping through
    * pivot→unpivot is the contract; melt is a pure projection (each
    * input row expands to 3 output rows map-side, no shuffle beyond
    * the pivot's own aggregation).
    */
  def unpivotOrders(spark: SparkSession, dir: String): DataFrame =
    pivotOrders(spark, dir)
      .select(col("o_orderpriority"),
        expr("stack(3, 'F', F, 'O', O, 'P', P) AS (o_orderstatus, n)"))
      // the pivot zero-fills absent combinations; the relational form
      // (and the oracle) has no row for them — drop the fill on the way
      // back so melt inverts pivot exactly
      .filter(col("n") > 0)
      .orderBy("o_orderpriority", "o_orderstatus")

  val unpivotOrdersSql: String =
    """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY o_orderpriority, o_orderstatus
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  /** Per-group quartile buckets of order value — the scale-safe shape.
    *
    * A `ntile(4) OVER (PARTITION BY priority ORDER BY price)` window
    * partitions by a 5-value column, so 5 tasks would each sort the
    * entire fact table (~100 GB single-task sorts at 100×). Instead:
    * compute the three per-group quartile *boundaries* with an exact
    * interpolated percentile (a hash aggregation with map-side partial
    * merge — no global sort), broadcast the 5-row boundary table back,
    * and assign buckets with a map-side comparison. Same output
    * contract (priority, quartile, n, avg_price); ties at a boundary go
    * to the lower bucket on both engines by the shared `<=` rule.
    * At extreme scale swap `percentile` → `percentile_approx` (t-digest,
    * bounded memory) with the identical plan shape.
    */
  def ntileQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val bounds = o.groupBy("o_orderpriority").agg(
      expr("percentile(o_totalprice, 0.25)").as("b1"),
      expr("percentile(o_totalprice, 0.5)").as("b2"),
      expr("percentile(o_totalprice, 0.75)").as("b3"))
    o.join(broadcast(bounds), Seq("o_orderpriority"))
      .withColumn("quartile",
        when(col("o_totalprice") <= col("b1"), lit(1))
          .when(col("o_totalprice") <= col("b2"), lit(2))
          .when(col("o_totalprice") <= col("b3"), lit(3))
          .otherwise(lit(4)))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 4).as("avg_price"))
      .orderBy("o_orderpriority", "quartile")
  }

  /** [[ntileQuartiles]]' SCALE twin — the last exact-percentile entry
    * whose 100 TB swap was prose: the exact per-group `percentile`
    * buffers every group value in executor memory, so one skewed
    * priority group at 100 TB is an OOM. This face computes the three
    * boundaries with `percentile_approx` (Greenwald–Khanna sketch,
    * bounded state per group regardless of group size) and keeps the
    * IDENTICAL broadcast + map-side-assign plan. Rows-only by sketch
    * nature (the monitor-twin discipline); AnalyticsSpec asserts ≤5%
    * per-bucket count disagreement against the exact face at sf0.01.
    * Note percentile_approx returns an ACTUAL value of the column (no
    * interpolation), so boundaries sit on real prices — the `<=`
    * tie-to-lower rule is unchanged.
    */
  def ntileQuartilesApprox(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame = {
    val o = Tables.orders(spark, dir)
    val bounds = o.groupBy("o_orderpriority").agg(
      expr(s"percentile_approx(o_totalprice, 0.25, $accuracy)").as("b1"),
      expr(s"percentile_approx(o_totalprice, 0.5, $accuracy)").as("b2"),
      expr(s"percentile_approx(o_totalprice, 0.75, $accuracy)").as("b3"))
    o.join(broadcast(bounds), Seq("o_orderpriority"))
      .withColumn("quartile",
        when(col("o_totalprice") <= col("b1"), lit(1))
          .when(col("o_totalprice") <= col("b2"), lit(2))
          .when(col("o_totalprice") <= col("b3"), lit(3))
          .otherwise(lit(4)))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 4).as("avg_price"))
      .orderBy("o_orderpriority", "quartile")
  }

  val ntileQuartilesSql: String =
    """WITH b AS (
      |  SELECT o_orderpriority,
      |    quantile_cont(o_totalprice, 0.25) AS b1,
      |    quantile_cont(o_totalprice, 0.50) AS b2,
      |    quantile_cont(o_totalprice, 0.75) AS b3
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority,
      |  CASE WHEN o_totalprice <= b1 THEN 1
      |       WHEN o_totalprice <= b2 THEN 2
      |       WHEN o_totalprice <= b3 THEN 3 ELSE 4 END AS quartile,
      |  count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
      |FROM orders JOIN b USING (o_orderpriority)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Batch face of the stream-stream interval join (see
    * graft.streaming.StreamJoin): per purchase, the views by the same
    * user within the preceding 30 minutes, aggregated. The plan is an
    * equi-join on user_id (one shuffle per side) with the time interval
    * as a join-level range filter; at extreme scale co-partitioning
    * both sides by (user, time-bucket) makes the ranges bucket-local.
    */
  def intervalJoinViews(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"), col("value").as("v_value"))
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("v_ts") <= col("p_ts"))
      .groupBy("purchase_id", "user_id")
      .agg(count(lit(1)).as("n_views"), round(max("v_value"), 2).as("max_view_value"))
      .orderBy("purchase_id")
  }

  val intervalJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  count(*) AS n_views, round(max(v.value), 2) AS max_view_value
      |FROM events p JOIN events v
      |  ON p.user_id = v.user_id
      | AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
      |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Typed extraction from semi-structured event props (JSON-ish). */
  def eventsPropsExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("k", expr("try_cast(regexp_extract(props, '\"k\": *([0-9]+)', 1) AS INT)"))
      .groupBy("event_type")
      .agg(round(avg("k"), 4).as("avg_k"), max("k").as("max_k"))
      .orderBy("event_type")
  }

  val eventsPropsSql: String =
    """SELECT event_type,
      | round(avg(k), 4) AS avg_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        TRY_CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** TPC-H Q4 shape — priority accounting of orders with at least one
    * late-shipped line (EXISTS → left-semi join with a non-equi
    * residual). The date restriction prunes orders BEFORE the join (a
    * partition-pruned scan at warehouse scale), and the semi join never
    * duplicates an order however many of its lines are late.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("o_orderdate"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q12 shape — priority accounting of LATE lines by a
    * low-cardinality lineitem attribute (the schema's stand-in for
    * shipmode; reference Q12's commit/receipt ordering becomes a
    * ship-lag threshold against the order date). Completes the 22-query
    * TPC-H shape roster.
    *
    * The shape's point at scale: both CASE-sums ride ONE pass over the
    * joined slice (no per-priority re-scan), the date window and flag
    * filter prune lineitem BEFORE the join (min/max-pruned scan at
    * warehouse scale), and the non-equi lateness residual rides the
    * equi-join on orderkey rather than forcing a range join. The
    * aggregate is |flags| rows — partials collapse map-side.
    */
  def q12LinePriority(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).filter(
      col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val o = Tables.orders(spark, dir)
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") >= o("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("l_returnflag")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  val q12Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_returnflag IN ('A','R')
      |  AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q13 shape — customer count distribution by orders placed.
    * Orders aggregate per customer BEFORE the outer join (the
    * aggregate-then-join form: the join carries one row per customer,
    * not one per order), then the histogram is a second tiny
    * aggregation.
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
    Tables.customer(spark, dir)
      .join(per, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """WITH per AS (SELECT o_custkey, count(*) AS c_count FROM orders GROUP BY o_custkey)
      |SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist
      |FROM customer LEFT JOIN per ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q17 shape — revenue that would be lost by refusing
    * small-quantity orders of one brand's parts: lines below half the
    * part's average quantity. The brand slice broadcast-restricts
    * lineitem first, so the per-part average aggregates the SLICE (a
    * ~1/25 fraction), never the full fact table, and the thresholds
    * broadcast back for a map-side filter.
    */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#1").select("p_partkey")
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
      // the slice feeds BOTH the threshold aggregate and the final
      // filter — materialize it once (no common-subplan elimination)
      // instead of scanning + broadcast-joining lineitem twice
      .localCheckpoint(true)
    val thr = l.groupBy("l_partkey").agg((avg("l_quantity") * 0.5).as("thresh"))
    l.join(broadcast(thr), Seq("l_partkey"))
      .filter(col("l_quantity") < col("thresh"))
      .agg(round(sum("l_extendedprice") / 7.0, 4).as("avg_yearly"))
  }

  val q17Sql: String =
    """WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
      |l AS (SELECT l_partkey, l_quantity, l_extendedprice
      |      FROM lineitem JOIN p ON l_partkey = p_partkey),
      |t AS (SELECT l_partkey, avg(l_quantity) * 0.5 AS thresh FROM l GROUP BY l_partkey)
      |SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
      |FROM l JOIN t USING (l_partkey) WHERE l_quantity < thresh""".stripMargin

  /** TPC-H Q15 shape — the top supplier by quarterly revenue: an
    * argmax over an aggregate via a broadcast 1-row scalar joined back
    * with equality (HAVING total = (SELECT max ...)). The revenue
    * aggregate is materialized once — it feeds both the max and the
    * equality filter — and everything after the fact-slice aggregation
    * moves supplier-count-sized rows only.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("total_revenue"))
      .localCheckpoint(true)
    val mx = rev.agg(max("total_revenue").as("mx"))
    // the argmax result is ~1 row but descends from a checkpointed RDD
    // whose stats look huge to the static planner — hint it, so the
    // supplier join is map-side at any supplier-table size
    broadcast(rev.join(broadcast(mx), col("total_revenue") === col("mx")))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q20 shape — the nested semi-join chain: suppliers who
    * shipped a meaningful volume of promo parts in 1996 (EXISTS over an
    * aggregated-and-thresholded subquery which itself semi-restricts on
    * a dim slice). Plan: the promo-part slice broadcast-restricts
    * lineitem, the date filter rides the same scan, the per-supplier
    * aggregate collapses the slice BEFORE the threshold, and the
    * surviving supplier keys semi-join supplier — the fact table is
    * touched once and everything after the aggregate is key-sized.
    */
  def q20PromoSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val promo = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select("p_partkey")
    val qualified = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("promo_qty"))
      .filter(col("promo_qty") > 50)
    Tables.supplier(spark, dir)
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .orderBy("s_suppkey")
  }

  val q20Sql: String =
    """SELECT s_suppkey, s_name, s_nationkey
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY l_suppkey
      |  HAVING sum(l_quantity) > 50)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q21 shape — suppliers-who-kept-orders-waiting: for finished
    * orders, the supplier whose line was the only "faulted" one
    * (returnflag 'R' stands in for receipt-after-commit on this schema)
    * on an order involving OTHER suppliers. The classic formulation is
    * EXISTS(other supplier) AND NOT EXISTS(other faulted supplier) —
    * two correlated self-joins on the fact table. Plan: both EXISTS are
    * folded into ONE single-pass per-order aggregate (distinct-supplier
    * count, distinct-faulted-supplier count, the faulted supplier and
    * its row count), so lineitem is scanned once instead of three
    * times; the order-status restriction is a key-only join, and the
    * supplier/nation dims broadcast onto the key-sized survivor set
    * (PlanSpec-locked: one lineitem scan, no fact self-join).
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val fault = col("l_returnflag") === "R"
    // two plain aggregations instead of one multi-DISTINCT aggregate:
    // countDistinct×2 would plan an Expand (3 rows shuffled per fact
    // row); pre-aggregating per (order, supplier) gets map-side
    // partials on the full fact, and the per-order rollup then counts
    // already-distinct rows — strictly less shuffle volume at any scale
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(fault, lit(1L)).otherwise(lit(0L))).as("supp_fault_rows"))
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("nsupp"),
        sum(when(col("supp_fault_rows") > 0, 1).otherwise(0)).as("nfault"),
        min(when(col("supp_fault_rows") > 0, col("l_suppkey"))).as("fault_supp"),
        sum(col("supp_fault_rows")).as("fault_rows"))
      // EXISTS other supplier ∧ NOT EXISTS other faulted supplier
      .filter(col("nsupp") > 1 && col("nfault") === 1)
    val finished = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    perOrder.join(finished, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("fault_supp") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(sum(col("fault_rows")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Oracle keeps the literal double-EXISTS formulation — the rewrite
    * must be semantically identical, not just plausible.
    */
  val q21Sql: String =
    """SELECT s_name, n_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |  AND s_nationkey = n_nationkey
      |GROUP BY s_name, n_name
      |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  /** TPC-H Q2 shape — the correlated per-group MIN subquery: for each
    * part, the supplier(s) offering the lowest observed unit price,
    * restricted to suppliers of one region (unit prices derived from
    * lineitem since this schema has no partsupp — same shape, same
    * plan problem). The correlated subquery becomes aggregate-once →
    * per-part min → equality self-join: the per-(part, supplier) cost
    * table materializes ONCE and feeds both the min aggregation and
    * the equality join back (a live plan would evaluate the aggregate
    * twice); region/nation/supplier broadcast; deterministic top-100.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val asiaSuppliers = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal")
    // min (not avg) of the per-row unit prices: min is summation-order
    // independent, so Spark and the oracle pick the bit-identical
    // double and the later rounding + equality join can never diverge
    // on a boundary (avg did, at exactly one sf0.001 row)
    val cost = Tables.lineitem(spark, dir)
      .join(broadcast(asiaSuppliers.select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(round(min(col("l_extendedprice") / col("l_quantity")), 4).as("unit_cost"))
      .localCheckpoint(true)
    val minCost = cost.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("unit_cost")).as("min_cost"))
    cost
      .join(minCost, col("l_partkey") === col("mc_partkey") &&
        col("unit_cost") === col("min_cost"))
      .join(broadcast(asiaSuppliers), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"),
        col("s_acctbal"), col("unit_cost"))
      .orderBy(col("p_partkey"), col("s_name"))
      .limit(100)
  }

  val q2Sql: String =
    """WITH asia AS (
      |  SELECT s_suppkey, s_name, s_acctbal
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |    JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
      |cost AS (
      |  SELECT l_partkey, l_suppkey, round(min(l_extendedprice / l_quantity), 4) AS unit_cost
      |  FROM lineitem JOIN asia ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2)
      |SELECT p_partkey, p_brand, s_name, s_acctbal, unit_cost
      |FROM cost
      |  JOIN asia ON l_suppkey = s_suppkey
      |  JOIN part ON l_partkey = p_partkey
      |WHERE unit_cost = (
      |  SELECT min(c2.unit_cost) FROM cost c2 WHERE c2.l_partkey = cost.l_partkey)
      |ORDER BY p_partkey, s_name LIMIT 100""".stripMargin

  /** TPC-H Q9 shape — product-line profit by supplier nation and order
    * year. The schema has no partsupp, so supply cost is derived as a
    * fixed fraction of `p_retailprice` (deterministic and
    * SQL-expressible — same substitution family as q2/q16). Plan story:
    * the part filter is the selective one, so the fact joins the
    * filtered part dim FIRST (broadcast) — the lineitem stream shrinks
    * before anything else touches it; supplier⋈nation is a second
    * broadcast; only then does the surviving slice shuffle against
    * orders. At 100 TB the single fact⋈orders shuffle carries only
    * widget rows, and the group key (nation, year) is tiny.
    */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val widgetParts = Tables.part(spark, dir)
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNations = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "nation")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(broadcast(widgetParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNations), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      // 175 (nation, year) groups summing a SUBTRACTION of doubles is
      // exactly the boundary-rounding trap q2's scaladoc warns about
      // (one sf0.01 group landed within fp-noise of a half-cent): all
      // inputs are exact cents, so the profit is computed in integer
      // 1e-4 dollars (cents × percent), summed exactly as BIGINT —
      // order-independent, so Spark's partial-agg order can never
      // diverge from the oracle's sequential sum — and divided once.
      .withColumn("profit_e4",
        round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long"))
          - round(col("p_retailprice") * 100).cast("long")
            * round(col("l_quantity")).cast("long") * lit(50L))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg((sum(col("profit_e4")) / lit(10000.0)).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9Sql: String =
    """SELECT nation, o_year, sum(profit_e4) / 10000.0 AS sum_profit FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    CAST(round(l_extendedprice * 100) AS BIGINT)
      |        * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |      - CAST(round(p_retailprice * 100) AS BIGINT)
      |        * CAST(round(l_quantity) AS BIGINT) * 50 AS profit_e4
      |  FROM lineitem
      |    JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |    JOIN orders ON l_orderkey = o_orderkey) p
      |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q11 shape — "important stock": per-part value restricted to
    * one region's suppliers, kept only where the part's value exceeds a
    * global-total-derived threshold (here 1.2× the mean per-part value,
    * which is scale-invariant — TPC-H's fixed fraction deflates with
    * SF). The correlated scalar subquery becomes: aggregate the fact
    * ONCE per part (materialized so the threshold pass cannot recompute
    * it), re-aggregate those group rows into a 1-row threshold, and
    * broadcast that scalar back over the group table as a crossJoin —
    * two tiny jobs over per-part rows instead of a second fact scan.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val regionSuppliers = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    // Exact integer 1e-4-dollar units end-to-end (the q9 discipline),
    // and the threshold compare is pure integer too:
    // value > 1.2 * total/n  ⟺  5 * value * n > 6 * total — no double
    // ever enters the predicate, so a part sitting exactly at the
    // threshold can never flip between Spark and the oracle.
    val perPart = Tables.lineitem(spark, dir)
      .join(broadcast(regionSuppliers), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")
        * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("value_e4"))
      .localCheckpoint(true)
    val threshold = perPart.agg(sum(col("value_e4")).as("total_e4"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(threshold))
      .filter(col("value_e4") * 5 * col("n_parts") > col("total_e4") * 6)
      .select(col("l_partkey"), (col("value_e4") / lit(10000.0)).as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  val q11Sql: String =
    """WITH eu AS (
      |  SELECT s_suppkey FROM supplier
      |    JOIN nation ON s_nationkey = n_nationkey
      |    JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
      |per_part AS (
      |  SELECT l_partkey,
      |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS value_e4
      |  FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
      |  GROUP BY 1),
      |thr AS (SELECT sum(value_e4) AS total_e4, count(*) AS n_parts FROM per_part)
      |SELECT l_partkey, value_e4 / 10000.0 AS part_value
      |FROM per_part, thr
      |WHERE value_e4 * 5 * n_parts > total_e4 * 6
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** TPC-H Q8 shape — national market share: the share of revenue a
    * chosen supplier nation captures, per order year, among orders
    * placed by customers of one region. The conditional-share form
    * (sum(CASE)/sum) rides ONE aggregation; the region restriction is a
    * customer-keyed SEMI join applied to ORDERS before the fact join
    * (the q7 lesson: prune the fact inputs before the big shuffle, so
    * the lineitem⋈orders join only moves qualifying orders); nation and
    * supplier are broadcast dims, nation playing its second role on the
    * supplier side.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val regionNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "AFRICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val regionCustomers = Tables.customer(spark, dir)
      .join(broadcast(regionNations), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val regionOrders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(regionCustomers, col("o_custkey") === col("c_custkey"), "left_semi")
    val suppNations = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(regionOrders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNations), col("l_suppkey") === col("s_suppkey"))
      .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_0", col("volume")).otherwise(lit(0.0)))
          / sum(col("volume")), 4).as("mkt_share"))
      .orderBy("o_year")
  }

  val q8Sql: String =
    """WITH rev AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    l_extendedprice * (1 - l_discount) AS volume,
      |    n2.n_name AS supp_nation
      |  FROM lineitem
      |    JOIN orders ON o_orderkey = l_orderkey
      |    JOIN customer ON c_custkey = o_custkey
      |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |    JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AFRICA'
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN nation n2 ON s_nationkey = n2.n_nationkey)
      |SELECT o_year,
      |  round(sum(CASE WHEN supp_nation = 'NATION_0' THEN volume ELSE 0 END)
      |    / sum(volume), 4) AS mkt_share
      |FROM rev GROUP BY o_year ORDER BY o_year""".stripMargin

  /** Ordered funnel conversion (view → click → purchase) by first-touch
    * cohort month: per user, the first view, the first click AFTER that
    * view, the first purchase AFTER that click — then per-cohort stage
    * counts and conversion rates. Event-sequence analytics without
    * per-user event arrays: each stage is a filtered min-aggregate
    * (O(1) state per user per stage, heavy users cannot skew an
    * executor the way collect_list-then-sort funnels do), and every
    * stage join is co-partitioned on the same user_id key so the
    * chain reuses one partitioning end-to-end.
    */
  def funnelUserStages(events: DataFrame): DataFrame = {
    def stage(etype: String, after: DataFrame, afterCol: String, outCol: String) =
      events.filter(col("event_type") === etype).select(col("user_id"), col("ts"))
        .join(after, "user_id")
        .filter(col("ts") > col(afterCol))
        .groupBy("user_id").agg(min(col("ts")).as(outCol))
    val views = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val clicks = stage("click", views, "t_view", "t_click")
    val purchases = stage("purchase", clicks, "t_click", "t_purchase")
    views
      .join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
  }

  def funnelConversion(events: DataFrame): DataFrame = {
    funnelUserStages(events)
      .groupBy(date_format(col("t_view"), "yyyy-MM").as("cohort"))
      .agg(count(lit(1)).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
      .withColumn("click_rate", round(col("n_click") / col("n_view"), 4))
      .withColumn("purchase_rate", round(col("n_purchase") / col("n_view"), 4))
      .orderBy("cohort")
  }

  def funnelConversion(spark: SparkSession, dir: String): DataFrame =
    funnelConversion(Tables.events(spark, dir))

  /** The v/c/p first-touch stage CTEs — one definition serving the
    * conversion face and the latency face.
    */
  private val funnelStageCtes: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)""".stripMargin

  val funnelSql: String =
    s"""$funnelStageCtes
       |SELECT strftime(t_view, '%Y-%m') AS cohort,
       |  count(*) AS n_view, count(t_click) AS n_click,
       |  count(t_purchase) AS n_purchase,
       |  round(count(t_click) * 1.0 / count(*), 4) AS click_rate,
       |  round(count(t_purchase) * 1.0 / count(*), 4) AS purchase_rate
       |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Population Stability Index per event type — THE standard ML
    * feature-drift gate: decile boundaries fitted on the FIRST half of
    * the stream (ingestion order, the embedding_drift split), both
    * halves bucketed by them, PSI = Σ(p−q)·ln(p/q) over the ten
    * buckets with +0.5/+5 Laplace smoothing so empty buckets stay
    * defined. Rule-of-thumb reading: <0.1 stable, 0.1–0.25 drifting,
    * >0.25 the feature shifted and the model consuming it needs
    * retraining — here applied to each event type's value stream.
    *
    * Scale design: boundary table is |types|×9 (broadcast), bucketing
    * is map-side CASE, counts are one (type, half, bucket) partial
    * agg; the PSI fold runs over ≤ 10·|types| rows. Integer counts →
    * identical smoothed proportions in both engines; ln + 4 dp is the
    * zipf precedent.
    */
  def valuePsi(spark: SparkSession, dir: String): DataFrame =
    valuePsiWith(spark, dir, psiBounds)

  /** [[valuePsi]]'s 100 TB scale twin: identical halves / bucketing /
    * smoothed fold, but the reference-decile fit uses the mergeable
    * t-digest `percentile_approx` instead of the exact full-sort
    * percentile — the swap the exact face documents, as code. Decile
    * boundaries land within t-digest error of the exact ones, so the
    * PSI shifts by at most the mass the boundary slide re-buckets
    * (spec'd ≤ 0.05 absolute against the exact face). Rows-only: the
    * t-digest fit is engine-specific.
    */
  def valuePsiApprox(spark: SparkSession, dir: String): DataFrame =
    // accuracy 10000: boundary placement IS the PSI signal, and a
    // decile that slides re-buckets real mass — unlike the latency
    // twins, this face buys the extra sketch centroids (still a few KB
    // per type, mergeable, far from the exact face's full sort)
    valuePsiWith(spark, dir, df => df.groupBy("event_type")
      .agg(expr("percentile_approx(value, 0.1, 10000)").as("b1"),
        (2 to 9).map(i =>
          expr(s"percentile_approx(value, 0.$i, 10000)").as(s"b$i")): _*))

  private def valuePsiWith(spark: SparkSession, dir: String,
      boundsOf: DataFrame => DataFrame): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "event_type", "value")
    val bounds = ev.agg(min("event_id").as("lo"), max("event_id").as("hi"))
    val halves = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("event_id") < expr("(lo + hi + 1) div 2"), 0).otherwise(1))
    val qs = boundsOf(halves.filter(col("half") === 0))
    val g = halves.join(broadcast(qs), "event_type")
      .withColumn("bucket", psiBucket)
      .groupBy("event_type", "bucket")
      .agg(count(when(col("half") === 0, 1)).as("a"),
        count(when(col("half") === 1, 1)).as("b"))
    psiFold(g)
  }

  /** Per-type decile boundary table (event_type, b1..b9) from a
    * (event_type, value) frame — the reference-distribution fit the
    * streaming face persists immutable at bootstrap.
    */
  private[graft] def psiBounds(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(expr("percentile(value, 0.1)").as("b1"),
        (2 to 9).map(i => expr(s"percentile(value, 0.$i)").as(s"b$i")): _*)

  /** Decile-bucket CASE over a frame carrying `value` and b1..b9. */
  private[graft] val psiBucket: Column =
    (1 to 9).foldRight(lit(10): Column) { (i, rest) =>
      when(col("value") <= col(s"b$i"), i).otherwise(rest)
    }

  /** The smoothed PSI fold over sparse (event_type, bucket, a, b)
    * counts — fills the missing buckets, Laplace-smooths (+0.5/+5),
    * folds Σ(p−q)·ln(p/q) per type. Shared by the batch entry and the
    * streaming monitor.
    */
  private[graft] def psiFold(g: DataFrame): DataFrame = {
    val filled = g.select("event_type").distinct()
      .select(col("event_type"), explode(sequence(lit(1), lit(10))).as("bucket"))
      .join(g, Seq("event_type", "bucket"), "left")
      .na.fill(0L, Seq("a", "b"))
    val tot = filled.groupBy("event_type")
      .agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    val p = (col("a") + lit(0.5)) / (col("na") + lit(5))
    val q = (col("b") + lit(0.5)) / (col("nb") + lit(5))
    filled.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"), col("na").as("n_first"), col("nb").as("n_second"))
      .agg(round(sum((p - q) * log(p / q)), 4).as("psi"))
      .orderBy("event_type")
  }

  val valuePsiSql: String = {
    val qcols = (1 to 9).map(i => s"quantile_cont(value, 0.$i) AS b$i").mkString(", ")
    val caseChain = (1 to 9).map(i => s"WHEN value <= b$i THEN $i").mkString(" ")
    """WITH bd AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM events),
      |h AS (
      |  SELECT event_type, value,
      |    CASE WHEN event_id < (lo + hi + 1) // 2 THEN 0 ELSE 1 END AS half
      |  FROM events, bd),
      |q AS (SELECT event_type, QCOLS FROM h WHERE half = 0 GROUP BY event_type),
      |bk AS (
      |  SELECT h.event_type, h.half, CASE CASECHAIN ELSE 10 END AS bucket
      |  FROM h JOIN q USING (event_type)),
      |g AS (
      |  SELECT event_type, bucket,
      |    count(CASE WHEN half = 0 THEN 1 END) AS a,
      |    count(CASE WHEN half = 1 THEN 1 END) AS b
      |  FROM bk GROUP BY 1, 2),
      |f AS (
      |  SELECT s.event_type, s.bucket, coalesce(g.a, 0) AS a, coalesce(g.b, 0) AS b
      |  FROM (SELECT DISTINCT event_type, unnest(generate_series(1, 10)) AS bucket FROM g) s
      |  LEFT JOIN g USING (event_type, bucket)),
      |t AS (SELECT event_type, sum(a) AS na, sum(b) AS nb FROM f GROUP BY 1)
      |SELECT f.event_type,
      |  CAST(t.na AS BIGINT) AS n_first, CAST(t.nb AS BIGINT) AS n_second,
      |  round(sum((PP - QQ) * ln(PP / QQ)), 4) AS psi
      |FROM f JOIN t USING (event_type)
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
      .replace("QCOLS", qcols).replace("CASECHAIN", caseChain)
      // decimal-literal trap: DuckDB parses 0.5 as DECIMAL and would run
      // the smoothing in decimal arithmetic — force binary64 end to end
      .replace("PP", "((CAST(a AS DOUBLE) + 0.5::DOUBLE) / (CAST(na AS DOUBLE) + 5))")
      .replace("QQ", "((CAST(b AS DOUBLE) + 0.5::DOUBLE) / (CAST(nb AS DOUBLE) + 5))")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic per event type —
    * the continuous companion of [[valuePsi]]: D = max |F₁(x) − F₂(x)|
    * between the two ingestion-order halves' empirical CDFs,
    * bucket-free (PSI's deciles can hide a shift inside one bucket; KS
    * sees every distinct value). Exact integer cumulative counts over
    * the per-(type, value) histogram make both engines' CDF steps
    * identical doubles.
    *
    * Scale design: one (type, value) key agg collapses the stream to
    * its distinct-value histogram, the CDF is a per-type window cumsum
    * (key-partitioned, never global), and D is one fold.
    */
  def valueKs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir).select("event_id", "event_type", "value")
    val bounds = ev.agg(min("event_id").as("lo"), max("event_id").as("hi"))
    val halves = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("event_id") < expr("(lo + hi + 1) div 2"), 0).otherwise(1))
    val g = halves.groupBy("event_type", "value")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n2"))
    val w = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = g.groupBy("event_type")
      .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    g.withColumn("c1", sum(col("n1")).over(w))
      .withColumn("c2", sum(col("n2")).over(w))
      .join(broadcast(tot), "event_type")
      .groupBy(col("event_type"), col("t1").as("n_first"), col("t2").as("n_second"))
      .agg(round(max(abs(col("c1").cast("double") / col("t1")
        - col("c2").cast("double") / col("t2"))), 4).as("ks"))
      .orderBy("event_type")
  }

  val valueKsSql: String =
    """WITH bd AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM events),
      |h AS (
      |  SELECT event_type, value,
      |    CASE WHEN event_id < (lo + hi + 1) // 2 THEN 0 ELSE 1 END AS half
      |  FROM events, bd),
      |g AS (
      |  SELECT event_type, value,
      |    sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2
      |  FROM h GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type,
      |    sum(n1) OVER w AS c1, sum(n2) OVER w AS c2,
      |    sum(n1) OVER p AS t1, sum(n2) OVER p AS t2
      |  FROM g
      |  WINDOW w AS (PARTITION BY event_type ORDER BY value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  p AS (PARTITION BY event_type))
      |SELECT event_type,
      |  CAST(t1 AS BIGINT) AS n_first, CAST(t2 AS BIGINT) AS n_second,
      |  round(max(abs(CAST(c1 AS DOUBLE)/CAST(t1 AS DOUBLE)
      |    - CAST(c2 AS DOUBLE)/CAST(t2 AS DOUBLE))), 4) AS ks
      |FROM c GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  /** Join-key skew audit over the lineitem→orders key — the diagnostic
    * run BEFORE choosing a skew strategy (AQE skew-join vs salting vs
    * broadcast): distinct keys, mean/max rows per key, the skew ratio
    * max/mean, and the row share owned by the 10 hottest keys. A skew
    * ratio near 1 means plain hash partitioning balances; a high ratio
    * with concentrated top-k share says exactly which keys need salt.
    *
    * One key agg + a distributed top-k (TakeOrdered, never a global
    * window — the keys are order-grain, fact-volume/4) + one fold.
    */
  def joinKeySkew(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
    // the 10 hottest keys via TakeOrdered (per-partition top-10, tiny
    // driver merge) — replaces an order-grain single-partition rank
    // window; the mass sums n only, so tie choice cannot move it
    val top10 = counts.orderBy(col("n").desc, col("l_orderkey")).limit(10)
      .agg(sum(col("n")).as("top_mass"))
    counts.agg(
        count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
        max(col("n")).as("max_rows"))
      .crossJoin(broadcast(top10))
      .select(col("n_keys"), col("n_rows"), col("max_rows"),
        round(col("n_rows").cast("double") / col("n_keys"), 4).as("mean_rows"),
        round(col("max_rows") * col("n_keys") / col("n_rows").cast("double"), 4).as("skew_ratio"),
        round(col("top_mass").cast("double") / col("n_rows"), 4).as("top10_share"))
  }

  val joinKeySkewSql: String =
    """WITH c AS (
      |  SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey),
      |r AS (
      |  SELECT n, row_number() OVER (ORDER BY n DESC, l_orderkey) AS rk FROM c)
      |SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(max(n) AS BIGINT) AS max_rows,
      |  round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS mean_rows,
      |  round(max(n) * count(*) / CAST(sum(n) AS DOUBLE), 4) AS skew_ratio,
      |  round(CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS DOUBLE) / sum(n), 4) AS top10_share
      |FROM r""".stripMargin

  /** Winsorized robust statistics per event type — the
    * outlier-resistant moments every metrics pipeline publishes next
    * to the raw mean: exact p05/p95 bounds per type, values clamped
    * into them, then n / raw mean / winsorized mean / winsorized std.
    * A fat-tailed type shows mean_raw ≫ mean_winsor — the signature
    * that raw averages are being bought by a handful of outliers.
    *
    * Scale design: the bounds table is |types| rows (broadcast back
    * onto the scan); the stats are one partial agg over the clamped
    * projection. Std is the explicit E[x²]−μ² form both engines
    * compute identically (the embedding_outliers rule).
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame =
    winsorizedStatsWith(spark, dir,
      expr("percentile(value, 0.05)"), expr("percentile(value, 0.95)"))

  /** [[winsorizedStats]]' 100 TB scale twin: the clamp bounds come from
    * the mergeable t-digest instead of the exact full-sort percentile.
    * A bound that slides by t-digest error re-clamps only the tail mass
    * between the two bounds, so the winsorized moments move by O(error
    * × tail weight) — spec'd ≤ 5% relative against the exact face.
    * Rows-only: the t-digest fit is engine-specific.
    */
  def winsorizedStatsApprox(spark: SparkSession, dir: String): DataFrame =
    winsorizedStatsWith(spark, dir,
      expr("percentile_approx(value, 0.05, 1000)"),
      expr("percentile_approx(value, 0.95, 1000)"))

  private def winsorizedStatsWith(spark: SparkSession, dir: String,
      lo: Column, hi: Column): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.groupBy("event_type").agg(lo.as("b_lo"), hi.as("b_hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("wv", least(greatest(col("value"), col("b_lo")), col("b_hi")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")), 4).as("mean_raw"),
        round(avg(col("wv")), 4).as("mean_winsor"),
        round(sqrt(greatest(
          avg(col("wv") * col("wv")) - avg(col("wv")) * avg(col("wv")),
          lit(0.0))), 4).as("std_winsor"))
      .orderBy("event_type")
  }

  val winsorizedStatsSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.05) AS b_lo,
      |    quantile_cont(value, 0.95) AS b_hi
      |  FROM events GROUP BY event_type),
      |w AS (
      |  SELECT e.event_type, e.value,
      |    least(greatest(e.value, b.b_lo), b.b_hi) AS wv
      |  FROM events e JOIN b USING (event_type))
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(avg(value), 4) AS mean_raw,
      |  round(avg(wv), 4) AS mean_winsor,
      |  round(sqrt(greatest(avg(wv*wv) - avg(wv)*avg(wv), 0)), 4) AS std_winsor
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Gini coefficient of per-user event counts plus the top-decile
    * share — the activity-concentration readout that decides whether
    * per-user sampling needs weighting/capping: a high Gini means a
    * uniform user sample wildly under-represents the traffic, and the
    * top-decile share says how much one decile of users owns.
    * Formula: with counts x₍₁₎≤…≤x₍ₙ₎ ascending,
    * G = 2·Σi·x₍ᵢ₎/(n·Σx) − (n+1)/n; ties commute (equal x make
    * Σi·x order-free inside the block), so the value is total-order
    * deterministic. All-integer sums until the final two divisions.
    *
    * Scale design: per-user counts are one key agg; the ascending rank
    * is [[graft.functions.Ranks.globalRank]] over |users| rows — a
    * range-partitioned sort, never a single-partition window (r14:
    * code, not prose); the Gini fold is one aggregate.
    */
  def userActivityGini(spark: SparkSession, dir: String): DataFrame =
    giniFace(Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("x")))

  /** The Gini/top-decile projection over a (user_id, x) counts
    * relation — shared with the streaming maintained face.
    *
    * r14: the ascending rank rides [[graft.functions.Ranks.globalRank]]
    * (range partitions + prefix offsets), replacing THREE
    * single-partition windows (rank asc, rank desc, full-frame count):
    * the descending rank's only consumer was the top-decile mass, and
    * the q = ceil(n/10) largest counts are exactly the rows with
    * ascending rank > n − q (within an x-tie block the two tiebreak
    * orders pick different user_ids but identical x values, and the
    * mass sums x only — tie-commutative, so the value and the oracle
    * hash are unchanged); the full-frame count is the rank pass's own
    * prefix total, already on the driver.
    */
  private[graft] def giniFace(counts: DataFrame): DataFrame = {
    val (ranked, n) = graft.functions.Ranks.globalRankWithN(
      counts, Seq(col("x"), col("user_id")))
    val topQ = math.ceil(n / 10.0).toLong
    ranked.withColumn("i", col("rn"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("total_events"),
        sum(col("i") * col("x")).as("ix"),
        sum(when(col("i") > lit(n - topQ), col("x"))
          .otherwise(0L)).as("top_mass"))
      .select(col("n_users"), col("total_events"),
        round(lit(2.0) * col("ix") / (col("n_users") * col("total_events"))
          - (col("n_users") + lit(1)).cast("double") / col("n_users"), 4).as("gini"),
        round(col("top_mass").cast("double") / col("total_events"), 4).as("top_decile_share"))
  }

  val userActivityGiniSql: String =
    """WITH c AS (
      |  SELECT user_id, count(*) AS x FROM events GROUP BY user_id),
      |r AS (
      |  SELECT x,
      |    CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i,
      |    CAST(row_number() OVER (ORDER BY x DESC, user_id) AS BIGINT) AS rd,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM c)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(x) AS BIGINT) AS total_events,
      |  round(2.0 * CAST(sum(i*x) AS DOUBLE) / (count(*) * CAST(sum(x) AS DOUBLE))
      |    - CAST(count(*) + 1 AS DOUBLE) / count(*), 4) AS gini,
      |  round(CAST(sum(CASE WHEN rd <= ceil(n / 10.0) THEN x ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(x) AS DOUBLE), 4) AS top_decile_share
      |FROM r""".stripMargin

  /** Time-to-convert profile of the same first-touch funnel: per stage
    * transition (view→click, click→purchase), the converting users'
    * latency distribution — n / mean / exact p50 / p90 / max ms. The
    * companion every conversion-rate dashboard needs: the rate says
    * HOW MANY convert, this says HOW LONG conversion takes (and the
    * p90/max bound the attribution window an event pipeline must keep
    * a user's funnel state alive for).
    *
    * Scale design: rides [[funnelUserStages]]' co-partitioned
    * min-aggregate chain (O(1) state per user per stage); the latency
    * rollup is a 2-group agg with the exact interpolated percentile
    * (the documented 100 TB swap is percentile_approx).
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame =
    funnelLatencyWith(spark, dir,
      expr("percentile(gap_ms, 0.5)"), expr("percentile(gap_ms, 0.9)"))

  /** [[funnelLatency]]'s 100 TB scale twin — p50/p90 from the mergeable
    * t-digest (n / mean / max are exact either way). Spec'd ≤ 5%
    * relative against the exact face; rows-only (engine-specific fit).
    */
  def funnelLatencyApprox(spark: SparkSession, dir: String): DataFrame =
    // cast: percentile_approx preserves the input's LONG type, but the
    // twin must present the exact face's DOUBLE schema
    funnelLatencyWith(spark, dir,
      expr("percentile_approx(gap_ms, 0.5, 1000)").cast("double"),
      expr("percentile_approx(gap_ms, 0.9, 1000)").cast("double"))

  private def funnelLatencyWith(spark: SparkSession, dir: String,
      p50: Column, p90: Column): DataFrame = {
    val st = funnelUserStages(Tables.events(spark, dir))
    val g1 = st.filter(col("t_click").isNotNull)
      .select(lit("1_view_to_click").as("step"),
        (unix_millis(col("t_click")) - unix_millis(col("t_view"))).as("gap_ms"))
    val g2 = st.filter(col("t_purchase").isNotNull)
      .select(lit("2_click_to_purchase").as("step"),
        (unix_millis(col("t_purchase")) - unix_millis(col("t_click"))).as("gap_ms"))
    g1.unionAll(g2)
      .groupBy("step")
      .agg(count(lit(1)).as("n"),
        round(avg(col("gap_ms")), 4).as("mean_ms"),
        round(p50, 4).as("p50_ms"),
        round(p90, 4).as("p90_ms"),
        max(col("gap_ms")).as("max_ms"))
      .orderBy("step")
  }

  val funnelLatencySql: String =
    s"""$funnelStageCtes,
       |g AS (
       |  SELECT '1_view_to_click' AS step,
       |    epoch_ms(c.t_click) - epoch_ms(v.t_view) AS gap_ms
       |  FROM c JOIN v USING (user_id)
       |  UNION ALL
       |  SELECT '2_click_to_purchase',
       |    epoch_ms(p.t_purchase) - epoch_ms(c.t_click)
       |  FROM p JOIN c USING (user_id))
       |SELECT step,
       |  CAST(count(*) AS BIGINT) AS n,
       |  round(avg(gap_ms), 4) AS mean_ms,
       |  round(quantile_cont(gap_ms, 0.5), 4) AS p50_ms,
       |  round(quantile_cont(gap_ms, 0.9), 4) AS p90_ms,
       |  CAST(max(gap_ms) AS BIGINT) AS max_ms
       |FROM g GROUP BY step ORDER BY step""".stripMargin

  /** TPC-H Q16 shape — supplier-relationship counting: how many
    * distinct suppliers ship each surviving (brand, size) combination,
    * with a dim NOT-IN restriction and a supplier NOT-IN exclusion
    * (negative account balance stands in for the complaints subquery).
    * The part slice and the exclusion list both broadcast; the fact
    * contributes only its two key columns; the distinct count is the
    * single shuffle. Supplier relationships live in lineitem on this
    * schema (no partsupp table), which keeps the shape identical.
    */
  def q16PartSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val excluded = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val parts = Tables.part(spark, dir)
      .filter(!col("p_brand").isin("Brand#1", "Brand#2") &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25))
      .select("p_partkey", "p_brand", "p_size")
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
      |  AND p_size IN (1, 5, 9, 13, 17, 21, 25)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  /** TPC-H Q19 shape — disjunctive predicate pushdown: revenue from an
    * OR of three brand/size/quantity band conjunctions over
    * lineitem⋈part. The point of the shape is what reaches the scans:
    * Catalyst must extract the lineitem-only disjunction (quantity
    * bands ∧ shared returnflag) and the part-only disjunction
    * (brand/size bands) and push BOTH below the join, so each scan
    * prunes before a single broadcast hash join — not filter-after-join
    * (PlanSpec-locked: Or in both scans' PushedFilters).
    */
  def q19BandRevenue(spark: SparkSession, dir: String): DataFrame = {
    def band(brand: String, sizeHi: Int, qtyLo: Int, qtyHi: Int): Column =
      col("p_brand") === brand &&
        col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qtyLo, qtyHi) &&
        col("l_returnflag") === "N"
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("p_partkey") === col("l_partkey"))
      .filter(band("Brand#1", 15, 1, 15) ||
        band("Brand#2", 25, 10, 25) ||
        band("Brand#3", 35, 20, 35))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
  }

  val q19Sql: String =
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 1 AND 15 AND l_returnflag = 'N')
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity BETWEEN 10 AND 25 AND l_returnflag = 'N')
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity BETWEEN 20 AND 35 AND l_returnflag = 'N')""".stripMargin

  /** Runtime bloom-filter semi-join pruning: a selective dim-side
    * predicate (urgent orders) is compacted into a bloom filter by ONE
    * dim aggregation (Spark's own `BloomFilterAggregate`, map-side
    * mergeable), then applied to the fact scan MAP-SIDE via the
    * codegen'd `BloomFilterMightContain` predicate BEFORE the join
    * shuffles anything. False positives are eliminated by the join
    * itself, so the result is bit-identical to the plain join — the
    * bloom only cuts shuffled fact volume (~80% here).
    *
    * This is the explicit form of Spark's injected runtime row-level
    * filter (`spark.sql.optimizer.runtime.bloomFilter.*`), for when the
    * dim is too big to broadcast but its key set is still compact: at
    * 100 TB a shuffle join on two fact-sized tables moves both sides,
    * and an 0.9 MB bloom (2^20 estimated items) shipped in the closure
    * is the cheapest way to keep non-qualifying fact rows on the
    * mappers. The single-row `head()` transfers only the serialized
    * filter bytes — the dim itself is never collected.
    */
  def bloomPruneJoin(spark: SparkSession, dir: String,
                     estItems: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val bfAgg = new BloomFilterAggregate(
      GraftExpressionBridge.expression(xxhash64(col("o_orderkey"))),
      estItems).toAggregateExpression()
    val bytes = dim.select(GraftExpressionBridge.column(bfAgg).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = GraftExpressionBridge.column(new BloomFilterMightContain(
      Literal.create(bytes, BinaryType),
      GraftExpressionBridge.expression(xxhash64(col("l_orderkey")))))

    Tables.lineitem(spark, dir)
      .filter(mightContain)
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), round(sum(revenue), 2).as("revenue"))
      .orderBy("l_returnflag")
  }

  val bloomPruneSql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Retention cohort matrix: users bucketed by first-activity month,
    * counted in every later month they return — the
    * engagement-over-time view every product analytics stack computes.
    *
    * Scale shape: aggregate-before-join twice — per-user first month
    * (one user-keyed agg) and distinct (user, month) activity (one
    * user-keyed dedup agg) join at USER grain, never at event grain,
    * then collapse to the tiny (cohort, offset) matrix. No window, no
    * event-grain join; both heavy aggs are map-side partial.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val cohorts = events.groupBy("user_id")
      .agg(date_trunc("month", min("ts")).as("cohort_month"))
    val activity = events
      .select(col("user_id"), date_trunc("month", col("ts")).as("act_month"))
      .distinct()
    activity.join(cohorts, "user_id")
      .groupBy(
        date_format(col("cohort_month"), "yyyy-MM").as("cohort"),
        months_between(col("act_month"), col("cohort_month")).cast("int").as("month_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort", "month_offset")
  }

  def retentionCohorts(spark: SparkSession, dir: String): DataFrame =
    retentionCohorts(Tables.events(spark, dir))

  val retentionSql: String =
    """WITH c AS (
      |  SELECT user_id, date_trunc('month', min(ts)) AS cohort_month
      |  FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('month', ts) AS act_month FROM events)
      |SELECT strftime(cohort_month, '%Y-%m') AS cohort,
      |  CAST(datediff('month', cohort_month, act_month) AS INT) AS month_offset,
      |  count(DISTINCT user_id) AS n_users
      |FROM a JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort, month_offset""".stripMargin

  /** Exact heavy hitters: top-k users by event count, deterministic
    * tiebreak. One partial-aggregated count + a k-row TakeOrdered —
    * the exact face the CMS variant below is property-tested against.
    */
  def userTopk(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(k)

  val userTopkSql: String =
    """SELECT user_id, count(*) AS n_events
      |FROM events GROUP BY user_id
      |ORDER BY n_events DESC, user_id LIMIT 20""".stripMargin

  /** Count-min-sketch heavy hitters: the mergeable fixed-size sketch
    * answer to "how often did key X occur" — the structure a streaming
    * frequency monitor keeps when exact per-key counts would be
    * unbounded state. `df.stat.countMinSketch` aggregates the sketch
    * distributedly (map-side partial sketches merged), and only the
    * w×d counter table (≈2/eps × ln(1/(1−confidence)) longs, ~200 KB
    * here) reaches the driver; estimates are then read for the exact
    * top-k keys. CMS never under-counts, over-counts ≤ eps·N w.p.
    * `confidence` (spec-asserted). Approx → rows-only.
    */
  def heavyHittersCms(spark: SparkSession, dir: String, k: Int = 20,
                      eps: Double = 0.0005, confidence: Double = 0.99): DataFrame = {
    import spark.implicits._
    val cms = Tables.events(spark, dir)
      .stat.countMinSketch(col("user_id"), eps, confidence, seed = 42)
    // the exact top-k is k rows BY CONSTRUCTION — the only driver data
    userTopk(spark, dir, k).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), cms.estimateCount(r.getLong(0))))
      .toDF("user_id", "n_events", "cms_estimate")
      .orderBy("user_id")
  }

  /** Count-min sketch in md5 CERTIFICATION MODE — the dedup_simhash /
    * dedup_quality_report_md5 precedent applied to the frequency
    * sketch: the counter table itself becomes a DATAFRAME of
    * (row, bucket, count) built with replayable md5 row-hashes, so an
    * external engine rebuilds every counter and every min-over-rows
    * estimate verbatim. This is also the sketch's distributed form at
    * 100 TB: the depth×width table (4×2048 longs here) is one
    * partial-aggregated groupBy — union two tables and re-sum to merge
    * shards, persist it as parquet for repeated probes — where the
    * driver-side production face ([[heavyHittersCms]]) collects one
    * ~200 KB sketch. Same guarantee surfaces: never under-counts
    * (cms_estimate ≥ n_events, spec'd), over-counts bounded by
    * colliding mass.
    */
  def heavyHittersCmsMd5(spark: SparkSession, dir: String, k: Int = 20,
                         depth: Int = 4, width: Int = 2048): DataFrame = {
    require(depth * 8 <= 32, s"md5 has 32 hex chars; depth $depth needs ${depth * 8}")
    // ONE md5 per DISTINCT key, sliced into `depth` disjoint 8-hex
    // (32-bit) row-hashes (the slices play the pairwise-independent row
    // functions, the md5-slice discipline of the KMV / band faces).
    // The counter update is n-weighted, so hashing runs at KEY grain
    // over the pre-aggregated (key, n) table — corpus-grain md5 (one
    // hash per event row, the pre-r15 shape) bought nothing but cost:
    // counters are identical, and the per-key count table is the SAME
    // aggregate the exact top-k face needs, so it is computed once.
    def buckets(key: Column): Column = {
      val h = md5(key.cast("string").cast("binary"))
      array((0 until depth).map(r =>
        conv(substring(h, 1 + 8 * r, 8), 16, 10).cast("long") % width): _*)
    }
    val keyCounts = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .localCheckpoint(true) // feeds the counter table AND the top-k slice
    val counters = keyCounts
      .select(col("n_events"), posexplode(buckets(col("user_id"))).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("n_events")).as("c"))
      .select(col("r").as("cr"), col("bucket").as("cb"), col("c"))
    keyCounts
      .orderBy(col("n_events").desc, col("user_id")).limit(k)
      .select(col("user_id"), col("n_events"),
        posexplode(buckets(col("user_id"))).as(Seq("r", "pb")))
      .join(counters, col("cr") === col("r") && col("cb") === col("pb"))
      .groupBy(col("user_id"), col("n_events"))
      .agg(min(col("c")).as("cms_estimate"))
      .orderBy("user_id")
  }

  def heavyHittersCmsMd5Sql(k: Int = 20, depth: Int = 4, width: Int = 2048): String =
    s"""WITH kc AS MATERIALIZED (
       |  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
       |tk AS (
       |  SELECT user_id, n_events FROM kc
       |  ORDER BY n_events DESC, user_id LIMIT $k),
       |rs AS (SELECT CAST(unnest(range(0, $depth)) AS INTEGER) AS r),
       |b AS (
       |  SELECT rs.r,
       |    ('0x' || substr(md5(CAST(kc.user_id AS VARCHAR)), 1 + 8 * rs.r, 8))::BIGINT
       |      % $width AS bucket,
       |    CAST(sum(n_events) AS BIGINT) AS c
       |  FROM kc CROSS JOIN rs GROUP BY 1, 2),
       |p AS (
       |  SELECT tk.user_id, tk.n_events, rs.r,
       |    ('0x' || substr(md5(CAST(tk.user_id AS VARCHAR)), 1 + 8 * rs.r, 8))::BIGINT
       |      % $width AS bucket
       |  FROM tk CROSS JOIN rs)
       |SELECT p.user_id, p.n_events, min(b.c) AS cms_estimate
       |FROM p JOIN b ON b.r = p.r AND b.bucket = p.bucket
       |GROUP BY 1, 2 ORDER BY user_id""".stripMargin

  /** Per-type z-score anomaly flagging: events whose value sits more
    * than `z` standard deviations from their type's mean — the cheap
    * outlier sweep that runs before values feed a model. Stats are a
    * tiny per-type aggregate broadcast back; flagging is map-side, so
    * the fact table is scanned twice but never shuffled at event grain.
    * (Margins on this data sit ≥0.01 from the threshold at every SF —
    * far above FP noise — so the row set is oracle-stable.)
    */
  def valueAnomalies(events: DataFrame, z: Double = 3.0): DataFrame = {
    val stats = events.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
    events.join(broadcast(stats), "event_type")
      .filter(col("sigma") > 0 && abs(col("value") - col("mu")) > lit(z) * col("sigma"))
      .select(col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"),
        round((col("value") - col("mu")) / col("sigma"), 4).as("zscore"))
      .orderBy("event_id")
  }

  def valueAnomalies(spark: SparkSession, dir: String): DataFrame =
    valueAnomalies(Tables.events(spark, dir))

  val valueAnomaliesSql: String =
    """WITH s AS (
      |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      |  FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, round(value, 2) AS value,
      |  round((value - mu) / sigma, 4) AS zscore
      |FROM events e JOIN s USING (event_type)
      |WHERE sigma > 0 AND abs(value - mu) > 3 * sigma
      |ORDER BY event_id""".stripMargin

  /** Customer spend percentile within market segment: percent_rank +
    * cume_dist over per-customer totals — the distributional ranking
    * windows (rank/ntile are covered elsewhere; these two complete the
    * family). Spend aggregates BEFORE the window, so the window input
    * is customer-grain, not order-grain, and both window functions
    * share one (segment)-partitioned sort.
    */
  def spendPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("spend"))
    val w = Window.partitionBy("c_mktsegment").orderBy(col("spend"))
    spend
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("spend"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
      .orderBy("c_custkey")
  }

  val spendPercentilesSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_custkey, c_mktsegment, spend,
      |  round(percent_rank() OVER w, 4) AS pct_rank,
      |  round(cume_dist() OVER w, 4) AS cume
      |FROM spend JOIN customer ON o_custkey = c_custkey
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend)
      |ORDER BY c_custkey""".stripMargin

  /** Column profiling (data-quality sweep): per-column non-null count,
    * exact distinct count, and min/max — the table-health summary every
    * ingestion pipeline runs before trusting a snapshot.
    *
    * Scale shape: ONE scan of the table computes every per-column
    * aggregate in a single Aggregate (the multi-`countDistinct` becomes
    * one Expand — k× row multiplication but still one shuffle with
    * map-side partials, and only the profiled columns are read). The
    * single 1-row result is then unpivoted driver-free via `stack`. At
    * extreme scale swap `countDistinct` for `approx_count_distinct` and
    * the Expand disappears; exact here because the oracle is exact.
    * min/max stringify through a 2dp rounding for doubles so Java and
    * DuckDB render identically.
    */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    val numeric = Set("o_totalprice")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    // aggregate on the raw values, stringify the 1-row result AFTER —
    // a min over stringified numbers would order lexicographically
    def str(c: String, v: Column): Column =
      (if (numeric(c)) round(v.cast("double"), 2) else v).cast("string")
    // one agg PER COLUMN, unioned — not one agg with 6 countDistincts:
    // multiple exact distincts in one Aggregate plan through Expand (a
    // 6× replica of every input row into the partial agg), while a
    // single-distinct agg is a plain two-phase hash agg. Each branch's
    // scan prunes to ITS one parquet column, so the union reads the
    // same bytes the fused scan would, minus the 6× agg row traffic —
    // measured 3.0 → 0.14 s at sf0.1 on this face (the r11 sf1 pin's
    // #2 entry at 18.3 s).
    val base = Tables.orders(spark, dir)
    val total = base.agg(count(lit(1)).as("n_rows"))
    cols.map { c =>
      base.select(col(c)).agg(
        count(col(c)).as("n_nonnull"),
        countDistinct(col(c)).as("n_distinct"),
        str(c, min(col(c))).as("min_str"),
        str(c, max(col(c))).as("max_str"))
        .select(lit(c).as("col_name"), col("n_nonnull"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(total))
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_nulls"),
        col("n_distinct"), col("min_str"), col("max_str"))
      .orderBy("col_name")
  }

  /** The scale face of [[profileColumns]]: `approx_count_distinct`
    * (HLL++, rsd 2%) replaces the exact multi-countDistinct. The exact
    * form costs an Expand×|cols| blow-up of the scan (every row
    * duplicated once per distinct-aggregated column) so its shuffle is
    * |cols|× the table; the sketch form keeps ONE row per input row
    * and bounded per-column state — at 100 TB this is the only
    * runnable shape, with the exact face kept as the small-scale
    * auditor. Approximate → rows-only; the ±2% agreement with the
    * exact profile is spec'd.
    */
  def profileColumnsApprox(spark: SparkSession, dir: String): DataFrame = {
    val numeric = Set("o_totalprice")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    def str(c: String, v: Column): Column =
      (if (numeric(c)) round(v.cast("double"), 2) else v).cast("string")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__nn"),
      approx_count_distinct(col(c), 0.02).as(s"${c}__nd"),
      str(c, min(col(c))).as(s"${c}__mn"),
      str(c, max(col(c))).as(s"${c}__mx")))
    val one = Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackArgs = cols.map(c =>
      s"'$c', $c" + s"__nn, $c" + s"__nd, $c" + s"__mn, $c" + s"__mx").mkString(", ")
    one.select(col("n_rows"),
        expr(s"stack(${cols.size}, $stackArgs) AS (col_name, n_nonnull, n_distinct, min_str, max_str)"))
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_nulls"),
        col("n_distinct"), col("min_str"), col("max_str"))
      .orderBy("col_name")
  }

  val profileColumnsSql: String = {
    val numeric = Set("o_totalprice")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    def mm(c: String, f: String) =
      if (numeric(c)) s"CAST(round($f($c), 2) AS VARCHAR)"
      else s"CAST($f($c) AS VARCHAR)"
    val per = cols.map(c =>
      s"""SELECT '$c' AS col_name, s.n_rows, s.n_rows - count($c) AS n_nulls,
         | count(DISTINCT $c) AS n_distinct,
         | ${mm(c, "min")} AS min_str, ${mm(c, "max")} AS max_str
         |FROM orders, s GROUP BY s.n_rows""".stripMargin)
    s"""WITH s AS (SELECT count(*) AS n_rows FROM orders)
       |${per.mkString("\nUNION ALL\n")}
       |ORDER BY col_name""".stripMargin
  }

  /** Market-basket co-occurrence: the top part pairs ordered together,
    * ranked by the number of distinct orders containing both. The
    * association-mining primitive (frequent itemsets at k=2).
    *
    * Plan: ONE shuffle builds per-order baskets (`collect_set` dedups
    * in-agg, so no separate distinct pass), pairs expand MAP-SIDE from
    * each sorted basket ([[graft.dedup.Dedup.postingPairs]] — the same
    * posting-array trick n-gram dedup uses), then a pair-keyed count
    * with map-side partials. Never a lineitem self-join: at 100 TB
    * that join shuffles the fact table twice and multiplies rows
    * before the aggregate, while the basket form's expansion is
    * bounded by lines-per-order² (≤ ~25 for TPC-H-shaped orders)
    * inside the map task. Ordering (count desc, p1, p2) is total, so
    * the LIMIT slice is deterministic on both engines.
    */
  def copurchasePairs(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    baskets.filter(size(col("parts")) >= 2)
      .select(explode(graft.dedup.Dedup.postingPairs(col("parts"))).as("pr"))
      .groupBy(col("pr.id_a").as("p1"), col("pr.id_b").as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(k)
  }

  val copurchaseSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
      |SELECT p1, p2, count(*) AS n_orders FROM pairs GROUP BY 1, 2
      |ORDER BY n_orders DESC, p1, p2 LIMIT 100""".stripMargin

  /** First-order Markov transition matrix over per-user event
    * sequences: for every (event_type → next event_type) adjacency,
    * the transition count and the conditional probability P(next|cur).
    * The behavioral-analytics counterpart of the funnel query — what a
    * session-path or next-action model trains on.
    *
    * Plan: one shuffle partitions events by user; `lead` over
    * (ts, event_id) is a per-user sequential pass with bounded frame
    * state (one row lookahead). The transition aggregate partials
    * map-side into a |types|² matrix, and the probability window runs
    * over that tiny matrix, not the events. At 100 TB the only
    * event-volume shuffle is the user partition — the same shuffle
    * sessionization already pays, so the two ops pipeline on a shared
    * exchange when composed.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n_trans"))
    val wt = Window.partitionBy("event_type")
    trans
      .withColumn("p_next",
        round(col("n_trans").cast("double") / sum("n_trans").over(wt), 4))
      .orderBy("event_type", "next_type")
  }

  /** Gap-filled daily event counts — dimension densification: every
    * (event_type, day) cell of the full [min day, max day] range,
    * zero-filled where no events landed. Downstream time-series
    * consumers (anomaly windows, moving averages, forecasting
    * featurizers) need the dense grid; a naive groupBy silently drops
    * empty days and shifts every window that crosses them.
    *
    * Plan: the daily aggregate is the ONLY event-volume shuffle
    * (map-side partials). The scaffold is dims-only — a 2-row min/max
    * scalar exploded into the day spine, cross-joined with the distinct
    * type set — and the left join runs over |types|·|days| rows, never
    * event grain. At 100 TB the scaffold is still a few thousand rows:
    * densification cost is independent of fact volume.
    */
  def gapFillDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    densifyDaily(ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events")))
  }

  /** The densification step shared by the batch face above and the
    * streaming maintained-counts read face
    * ([[graft.streaming.StreamingDailyCountsJob]]): a sparse
    * (event_type, day, n_events) frame → the zero-filled full
    * (type × day-spine) grid. The scaffold is dims-only — span scalars
    * exploded into the spine, crossed with the distinct type set.
    */
  private[graft] def densifyDaily(daily0: DataFrame): DataFrame =
    densifyDailyCore(daily0).orderBy("event_type", "day")

  /** [[densifyDaily]] minus the presentation sort — consumers that
    * immediately re-partition (the ACF window) read this face so the
    * range exchange isn't paid twice.
    */
  private[graft] def densifyDailyCore(daily0: DataFrame): DataFrame = {
    val daily = daily0.localCheckpoint(true) // scanned thrice: span, types, join
    val days = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val types = daily.select("event_type").distinct()
    types.crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n_events"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"))
  }

  val gapFillDailySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM events)
      |SELECT t.event_type, strftime(d.day, '%Y-%m-%d') AS day,
      |  coalesce(daily.n_events, 0) AS n_events
      |FROM types t CROSS JOIN days d
      |LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day
      |ORDER BY t.event_type, 2""".stripMargin

  val eventTransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |t AS (
      |  SELECT event_type, next_type, count(*) AS n_trans
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n_trans,
      |  round(n_trans * 1.0 / sum(n_trans) OVER (PARTITION BY event_type), 4) AS p_next
      |FROM t ORDER BY event_type, next_type""".stripMargin

  /** CUSUM change-point detection over each event type's daily count
    * series — the drift detector a pipeline-health monitor runs on the
    * dense grid [[gapFillDaily]] produces (zero-filled days are load-
    * bearing: a silent outage IS the change-point, and a sparse grid
    * would hide it). For each type, the cumulative sum of deviations
    * from the type's mean S_d = Σ_{i≤d}(x_i − μ) peaks at the most
    * likely change-point; the reported stat normalizes ¦S¦ by σ√n so
    * types of different volumes compare on one scale. Ties break to
    * the earliest day; a zero-variance series reports stat 0.
    *
    * Plan: the event-volume work is [[gapFillDaily]]'s single daily
    * aggregate; everything here runs on the dims-only (type × day)
    * grid — per-type mean/σ in one pass, one ordered window for the
    * cumulative sum, and a struct-min argmax. Both engines walk the
    * identical FP sequence (ordered cumulative adds over integer
    * counts minus one shared mean), so the 4-dp stat is
    * hash-certifiable.
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame =
    cusumOver(gapFillDaily(spark, dir))

  /** The detector over ANY dense (event_type, day, n_events) grid —
    * shared by the batch entry above and the streaming maintained-
    * counts read face. */
  private[graft] def cusumOver(grid: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = grid.select("event_type", "day", "n_events")
    // ISO day strings order chronologically, so the string sort IS the
    // time order on both engines
    val stats = g.groupBy("event_type")
      .agg(avg(col("n_events")).as("mu"),
        stddev_samp(col("n_events")).as("sigma"),
        count(lit(1)).as("n_days"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(broadcast(stats), Seq("event_type"))
      .withColumn("s", sum(col("n_events") - col("mu")).over(w))
      .groupBy("event_type")
      .agg(min(struct((-abs(col("s"))).as("neg"), col("day"))).as("m"),
        first(col("sigma")).as("sigma"), first(col("n_days")).as("n_days"))
      .select(col("event_type"), col("m.day").as("change_day"),
        round(when(col("sigma") === 0.0, 0.0)
          .otherwise(-col("m.neg") / (col("sigma") * sqrt(col("n_days").cast("double")))),
          4).as("cusum_stat"),
        col("n_days"))
      .orderBy("event_type")
  }

  val cusumChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |grid AS (
      |  SELECT t.event_type, strftime(d.day, '%Y-%m-%d') AS day,
      |    coalesce(daily.n_events, 0) AS n_events
      |  FROM types t CROSS JOIN days d
      |  LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day),
      |st AS (
      |  SELECT event_type, avg(n_events) AS mu, stddev_samp(n_events) AS sigma,
      |    count(*) AS n_days
      |  FROM grid GROUP BY 1),
      |cum AS (
      |  SELECT g.event_type, g.day, st.sigma, st.n_days,
      |    sum(g.n_events - st.mu) OVER (
      |      PARTITION BY g.event_type ORDER BY g.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM grid g JOIN st USING (event_type)),
      |pick AS (
      |  SELECT event_type, day, s, sigma, n_days,
      |    row_number() OVER (PARTITION BY event_type ORDER BY abs(s) DESC, day) AS rk
      |  FROM cum)
      |SELECT event_type, day AS change_day,
      |  round(CASE WHEN sigma = 0 THEN 0
      |        ELSE abs(s) / (sigma * sqrt(CAST(n_days AS DOUBLE))) END, 4) AS cusum_stat,
      |  n_days
      |FROM pick WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** Pearson correlation between every pair of event types' daily
    * count series over the dense shared day spine — the co-movement
    * matrix a capacity planner or anomaly correlator reads (types that
    * spike together share a cause; a correlation that flips sign is an
    * incident signature). Computed from the five sufficient sums
    * (Σx, Σy, Σxy, Σx², n) so the inputs are exact INTEGER arithmetic
    * on both engines — the only FP ops are the final normalization,
    * which makes the 4-dp value bit-stable across engines. Degenerate
    * (zero-variance) series report NULL, matching SQL corr semantics.
    *
    * Plan: event-volume work is the one daily aggregate behind
    * [[gapFillDaily]]; the pair join runs on the dims-only grid
    * (¦types¦·¦days¦ rows self-joined on day — ¦types¦² ·¦days¦
    * intermediate, still dims-only), and the sufficient sums partially
    * aggregate map-side into a ¦types¦²-row matrix.
    */
  def seriesCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val g = gapFillDaily(spark, dir).select(
      col("event_type"), col("day"), col("n_events"))
    val a = g.select(col("event_type").as("type_a"), col("day"), col("n_events").as("x"))
    val b = g.select(col("event_type").as("type_b"), col("day"), col("n_events").as("y"))
    a.join(b, Seq("day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("type_a"), col("type_b"),
        round(when((col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
            (col("n") * col("syy") - col("sy") * col("sy")) === 0, lit(null))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))).cast("double"))),
          4).as("pearson_r"))
      .orderBy("type_a", "type_b")
  }

  val seriesCorrelationSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |grid AS (
      |  SELECT t.event_type, d.day, coalesce(daily.n_events, 0) AS n_events
      |  FROM types t CROSS JOIN days d
      |  LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS n, sum(a.n_events) AS sx, sum(b.n_events) AS sy,
      |    sum(a.n_events * b.n_events) AS sxy,
      |    sum(a.n_events * a.n_events) AS sxx,
      |    sum(b.n_events * b.n_events) AS syy
      |  FROM grid a JOIN grid b ON a.day = b.day AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b,
      |  round(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
      |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
      |      sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)) END, 4) AS pearson_r
      |FROM pairs ORDER BY type_a, type_b""".stripMargin

  /** Benford leading-digit audit over line-item extended prices — the
    * fraud/synthetic-data screen an ingestion pipeline runs on any
    * naturally-multiplicative amount column: organic amounts follow
    * log10(1+1/d), fabricated ones rarely do. Output per digit 1–9:
    * observed count, expected count under Benford, and the χ²
    * contribution (whose sum is the audit statistic; each row rounded
    * so both engines agree bit-for-bit — counts are exact integers,
    * the expectation is one log10 per digit).
    *
    * Plan: ONE scan computes the digit histogram (map-side partials
    * into 9 groups); the expectation join and χ² arithmetic run on the
    * 9-row result. The leading digit is extracted arithmetically
    * (value / 10^floor(log10 v)) — no string round-trip in the scan.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("v"))
      .filter(col("v") > 0)
      .select(floor(col("v") / pow(lit(10.0), floor(log10(col("v"))))).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    // total-by-array-fold over the ≤9-row histogram instead of an
    // unpartitioned window (r18): still ONE scan (the histogram is
    // aggregated once and re-exploded), exact long total, no
    // single-partition WindowExec
    digits
      .agg(sort_array(collect_list(struct(col("digit"), col("n_obs")))).as("s"))
      .select(col("s"),
        aggregate(col("s"), lit(0L), (a, x) => a + x.getField("n_obs")).as("n_total"))
      .select(posexplode(col("s")).as(Seq("i", "e")), col("n_total"))
      .select(col("e.digit").as("digit"), col("e.n_obs").as("n_obs"), col("n_total"))
      .select(col("digit"), col("n_obs"),
        round(col("n_total") * log10(lit(1.0) + lit(1.0) / col("digit")), 2).as("n_expected"),
        round(pow(col("n_obs") - col("n_total") * log10(lit(1.0) + lit(1.0) / col("digit")), 2) /
          (col("n_total") * log10(lit(1.0) + lit(1.0) / col("digit"))), 4).as("chi2_term"))
      .orderBy("digit")
  }

  val benfordAuditSql: String =
    """WITH d AS (
      |  SELECT CAST(floor(l_extendedprice / power(10.0, floor(log10(l_extendedprice)))) AS INT) AS digit
      |  FROM lineitem WHERE l_extendedprice > 0),
      |h AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
      |t AS (SELECT digit, n_obs, sum(n_obs) OVER () AS n_total FROM h)
      |SELECT digit, n_obs,
      |  round(n_total * log10(1.0 + 1.0 / digit), 2) AS n_expected,
      |  round(power(n_obs - n_total * log10(1.0 + 1.0 / digit), 2) /
      |    (n_total * log10(1.0 + 1.0 / digit)), 4) AS chi2_term
      |FROM t ORDER BY digit""".stripMargin

  /** RFM customer segmentation — the classic marketing cut: per
    * customer, Recency (days since last order, against the corpus'
    * newest order date), Frequency (order count) and Monetary (total
    * spend) are each quartiled (1 = best), and customers land in one
    * of ≤64 "rfm" segments. Output is the segment roster: count,
    * average spend, average recency — what a campaign planner reads.
    * Every ntile runs over a TOTAL order (metric, then custkey), so
    * the quartile boundaries are deterministic on both engines.
    *
    * The averages are exact (the q5/q9 pattern): `round(avg(double),
    * 2)` differs between the engines when a segment average lands on a
    * half-cent — Spark rounds HALF_UP on the shortest decimal string,
    * DuckDB scales the binary value (a generated corpus diverged on
    * ~3.6% of rows). Monetary is summed as BIGINT cents, and both
    * averages are rounded half-up to hundredths in integer arithmetic
    * before the one division.
    *
    * Plan: one orders scan aggregates the per-customer triple
    * (map-side partials); the three ntiles ride
    * [[graft.functions.Ranks.globalNtile]] over the |customers|-row
    * aggregate — range-partitioned sorts (r14: code, not prose), paid
    * on dims-scale data, never on the fact table; the segment rollup
    * is ≤64 rows.
    */
  def ordersRfm(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Ranks
    // r14: the three customer-grain ntiles ride Ranks.globalNtile
    // (range-partitioned, exact ntile arithmetic from rank + count) and
    // the full-frame reference-day max becomes a broadcast 1-row agg —
    // zero single-partition windows left in the plan (PlanSpec-locked)
    val perCust0 = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary"))
    val perCust = perCust0
      .crossJoin(broadcast(perCust0.agg(max(col("last_day")).as("ref_day"))))
      .withColumn("r_days", datediff(col("ref_day"), col("last_day")))
    val scored = Seq[(String, Seq[Column])](
      ("r", Seq(col("r_days"), col("custkey"))),
      ("f", Seq(col("freq").desc, col("custkey"))),
      ("m", Seq(col("monetary").desc, col("custkey"))))
      .foldLeft(perCust) { case (df, (name, order)) =>
        Ranks.globalNtile(df, 4, order).withColumnRenamed("bucket", name)
      }
    scored
      .groupBy(concat(col("r"), col("f"), col("m")).as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).as("m_cents"), sum(col("r_days")).as("r_sum"))
      .select(col("segment"), col("n_customers"),
        (expr("(2 * m_cents + n_customers) div (2 * n_customers)") / 100.0)
          .as("avg_spend"),
        (expr("(200 * r_sum + n_customers) div (2 * n_customers)") / 100.0)
          .as("avg_recency_days"))
      .orderBy("segment")
  }

  val ordersRfmSql: String =
    """WITH pc AS (
      |  SELECT o_custkey AS custkey,
      |    max(CAST(o_orderdate AS DATE)) AS last_day,
      |    count(*) AS freq,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary
      |  FROM orders GROUP BY 1),
      |rd AS (
      |  SELECT *, date_diff('day', last_day, max(last_day) OVER ()) AS r_days
      |  FROM pc),
      |sc AS (
      |  SELECT custkey, monetary, r_days,
      |    ntile(4) OVER (ORDER BY r_days, custkey) AS r,
      |    ntile(4) OVER (ORDER BY freq DESC, custkey) AS f,
      |    ntile(4) OVER (ORDER BY monetary DESC, custkey) AS m
      |  FROM rd)
      |SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS segment,
      |  count(*) AS n_customers,
      |  CAST((2 * sum(monetary) + count(*)) // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_spend,
      |  CAST((200 * sum(r_days) + count(*)) // (2 * count(*)) AS DOUBLE) / 100.0
      |    AS avg_recency_days
      |FROM sc GROUP BY 1 ORDER BY segment""".stripMargin

  /** Least-squares daily trend per event type over the dense grid —
    * the monotone-drift complement of [[cusumChangepoint]]'s
    * level-shift detector: slope (events/day) of the OLS fit through
    * the zero-filled daily counts. Computed from the four sufficient
    * sums with the day INDEX as x — n, Σy exact integers and Σi, Σi²
    * closed-form, so the only FP is the final division (bit-stable
    * 6-dp across engines).
    *
    * Plan: event-volume work is the grid's single daily aggregate; the
    * rank index is one per-type ordered window over dims-only rows and
    * the sums partial-aggregate into ¦types¦ rows.
    */
  def trendSlope(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
    gapFillDaily(spark, dir)
      .withColumn("i", (row_number().over(w) - 1).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_events")).as("sy"),
        sum(col("i") * col("n_events")).as("siy"),
        sum(col("i")).as("si"),
        sum(col("i") * col("i")).as("sii"))
      .select(col("event_type"), col("n_days"),
        round((col("n_days") * col("siy") - col("si") * col("sy")).cast("double") /
          (col("n_days") * col("sii") - col("si") * col("si")).cast("double"),
          6).as("slope_per_day"))
      .orderBy("event_type")
  }

  val trendSlopeSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |grid AS (
      |  SELECT t.event_type, d.day, coalesce(daily.n_events, 0) AS n_events
      |  FROM types t CROSS JOIN days d
      |  LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day),
      |ix AS (
      |  SELECT event_type, n_events,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
      |  FROM grid),
      |su AS (
      |  SELECT event_type, count(*) AS n_days, sum(n_events) AS sy,
      |    sum(i * n_events) AS siy, sum(i) AS si, sum(i * i) AS sii
      |  FROM ix GROUP BY 1)
      |SELECT event_type, n_days,
      |  round(CAST(n_days * siy - si * sy AS DOUBLE) /
      |    CAST(n_days * sii - si * si AS DOUBLE), 6) AS slope_per_day
      |FROM su ORDER BY event_type""".stripMargin

  /** Referential-integrity audit across the star schema: for every
    * foreign-key relation, the fact-side row count and the number of
    * orphans (rows whose key has no match in the dimension — a NULL
    * key counts as an orphan too, since it joins nothing). The data-
    * quality gate an ingestion pipeline runs before promoting a new
    * snapshot: non-zero orphans mean a partial load or an out-of-order
    * CDC apply.
    *
    * Plan: each relation is ONE pass over its fact side — a left join
    * whose null-probe IS the orphan test, counted in the same
    * aggregate as the row count (no second scan, no anti-join pass).
    * Dimension sides broadcast (nation/region always; orders/part/
    * supplier fit at these SFs, and at 100 TB the same left join runs
    * co-partitioned — the audit is still one fact scan + one keyed
    * probe per relation). The seven one-row results union into a
    * dims-only frame.
    */
  def fkIntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, fact: DataFrame, fk: String,
        dim: DataFrame, pk: String): DataFrame =
      fact.select(col(fk))
        .join(broadcast(dim.select(col(pk).as("__pk"))),
          col(fk) === col("__pk"), "left")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("__pk").isNull, 1)).as("n_orphans"))
        .select(lit(rel).as("relation"), col("n_rows"), col("n_orphans"))
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    audit("customer.nation", cust, "c_nationkey", nat, "n_nationkey")
      .unionByName(audit("lineitem.orders", li, "l_orderkey", ord, "o_orderkey"))
      .unionByName(audit("lineitem.part", li, "l_partkey", Tables.part(spark, dir), "p_partkey"))
      .unionByName(audit("lineitem.supplier", li, "l_suppkey", supp, "s_suppkey"))
      .unionByName(audit("nation.region", nat, "n_regionkey", Tables.region(spark, dir), "r_regionkey"))
      .unionByName(audit("orders.customer", ord, "o_custkey", cust, "c_custkey"))
      .unionByName(audit("supplier.nation", supp, "s_nationkey", nat, "n_nationkey"))
      .orderBy("relation")
  }

  val fkIntegrityAuditSql: String =
    """SELECT 'customer.nation' AS relation, count(*) AS n_rows,
      |  count(*) FILTER (WHERE n.n_nationkey IS NULL) AS n_orphans
      |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |UNION ALL
      |SELECT 'lineitem.orders', count(*),
      |  count(*) FILTER (WHERE o.o_orderkey IS NULL)
      |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |UNION ALL
      |SELECT 'lineitem.part', count(*),
      |  count(*) FILTER (WHERE p.p_partkey IS NULL)
      |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |UNION ALL
      |SELECT 'lineitem.supplier', count(*),
      |  count(*) FILTER (WHERE s.s_suppkey IS NULL)
      |FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |UNION ALL
      |SELECT 'nation.region', count(*),
      |  count(*) FILTER (WHERE r.r_regionkey IS NULL)
      |FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |UNION ALL
      |SELECT 'orders.customer', count(*),
      |  count(*) FILTER (WHERE c.c_custkey IS NULL)
      |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |UNION ALL
      |SELECT 'supplier.nation', count(*),
      |  count(*) FILTER (WHERE n.n_nationkey IS NULL)
      |FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      |ORDER BY relation""".stripMargin

  /** Exponentially-weighted moving average of each user's `value`
    * stream over their most recent [[EwmaWindow]] events (α =
    * [[EwmaAlpha]]) — the recency-weighted activity score a
    * personalization or anomaly layer reads per entity. The recursion
    * s_i = α·v_i + (1−α)·s_{i−1} (seeded s_1 = v_1) unrolls to a
    * CLOSED-FORM weighted sum over the retained window: weight
    * α·(1−α)^(j) for the event j steps before the newest, and
    * (1−α)^(w−1) — no leading α — for the oldest retained event.
    * Bounding the window keeps every exponent ≥ (1−α)^19, so the
    * closed form is numerically exact and both engines land on
    * bit-identical 6-dp roundings (an unbounded backward recursion
    * would push (1−α)^−i past double range on long histories).
    *
    * Plan: ONE shuffle partitions events by user (the sessionizer's
    * exchange); the rank and the weighted sum are per-partition window
    * + aggregate work with map-side partials on the |users|-row
    * output. At 100 TB per-user history is bounded by the window cap
    * before any aggregation state builds.
    */
  def ewmaEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val alpha = EwmaAlpha
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= EwmaWindow)
      .withColumn("w", max(col("rn")).over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_recent"),
        round(sum(
          when(col("rn") === col("w"),
            pow(lit(1 - alpha), col("rn") - 1) * col("value"))
            .otherwise(lit(alpha) * pow(lit(1 - alpha), col("rn") - 1) * col("value"))),
          6).as("ewma_value"))
      .orderBy("user_id")
  }

  val EwmaAlpha = 0.25
  val EwmaWindow = 20

  val ewmaEventsSql: String =
    """WITH ranked AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |recent AS (
      |  SELECT user_id, value, rn,
      |    max(rn) OVER (PARTITION BY user_id) AS w
      |  FROM ranked WHERE rn <= 20)
      |SELECT user_id, count(*) AS n_recent,
      |  round(sum(CASE WHEN rn = w THEN power(0.75, rn - 1) * value
      |                 ELSE 0.25 * power(0.75, rn - 1) * value END), 6) AS ewma_value
      |FROM recent GROUP BY user_id ORDER BY user_id""".stripMargin

  /** 2-D skyline (Pareto front) of the part catalog: the
    * (p_retailprice, p_size) points for which no other part is both
    * cheaper-or-equal and larger-or-equal with at least one strict —
    * minimize price, maximize size. The classic "best tradeoff"
    * query a catalog/offer engine runs; the reference has no skyline
    * operator, so this is pure Spark-first composition.
    *
    * A naive skyline is the quadratic NOT-EXISTS self-join (the
    * oracle's formulation — fine for DuckDB at sf0.01, fatal at
    * 100 TB). Skylines are DISTRIBUTIVE: a point dominated inside any
    * subset is dominated globally, so the scale plan is
    * local-skyline → global-skyline:
    *
    *  1. group to distinct (price, size) pairs (one shuffle, map-side
    *     combine; also removes exact ties so the window predicate
    *     below needs no tie special-case),
    *  2. hash the pairs into [[ParetoBuckets]] buckets and run a
    *     per-bucket running-max window: ordered by (price asc, size
    *     desc), a pair survives iff its size strictly exceeds every
    *     preceding size — each bucket's survivors form a
    *     strictly-INCREASING size chain, so the count is bounded by
    *     the number of DISTINCT SIZES, ≤50 rows/bucket on
    *     TPC-H-shaped data regardless of SF,
    *  3. one final window over the ≤ buckets·|sizes| survivors
    *     applies the same predicate globally (single-partition, but
    *     over a provably tiny frame).
    *
    * No comparison is arithmetic — prices flow from parquet to the
    * predicate untouched in both engines, so double equality is exact.
    */
  def paretoFront(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.part(spark, dir)
      .groupBy(col("p_retailprice").as("price"), col("p_size").as("size"))
      .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("first_partkey"))
    val localW = Window.partitionBy(col("bucket"))
      .orderBy(col("price").asc, col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val survivors = pairs
      .withColumn("bucket", pmod(hash(col("price"), col("size")), lit(ParetoBuckets)))
      .withColumn("run_max", max("size").over(localW))
      .filter(col("run_max").isNull || col("size") > col("run_max"))
      .drop("bucket", "run_max")
    // the global pass runs over the per-bucket fronts only — measured
    // 152 rows at sf0.1 / 128 at sf1 (vs 16k/49k (price, size) groups;
    // the denser the grid, the harder local domination prunes), so the
    // sequential staircase scan folds over a sorted array (r18):
    // struct sort on (price, -size) replays the (price ASC, size DESC)
    // order, run_max over the strict prefix is -min of the negated
    // sizes (empty prefix → -Int.MaxValue, below every real size,
    // exactly like the window's NULL arm), no single-partition
    // WindowExec
    survivors
      .agg(sort_array(collect_list(struct(col("price"),
        (-col("size")).as("nsize"), col("n_parts"), col("first_partkey")))).as("s"))
      .select(col("s"), posexplode(col("s")).as(Seq("i", "e")))
      .filter((-col("e.nsize")) >
        -aggregate(slice(col("s"), lit(1), col("i")), lit(Int.MaxValue),
          (a, x) => least(a, x.getField("nsize"))))
      .select(col("e.price").as("p_retailprice"), (-col("e.nsize")).as("p_size"),
        col("e.n_parts").as("n_parts"), col("e.first_partkey").as("first_partkey"))
      .orderBy("p_retailprice")
  }

  val ParetoBuckets = 32

  /** Autocorrelation function of each event type's daily-count series
    * at lags 1..[[AcfMaxLag]] — the seasonality probe (a weekly cycle
    * shows as a lag-7 peak) a monitoring layer runs before fitting any
    * forecast. Definition: Pearson r between the series and its
    * lag-shifted self over the OVERLAPPING region (the sample-ACF
    * variant that re-centres per lag — exactly re-expressible in SQL,
    * unlike the fixed-global-mean variant), over the zero-filled dense
    * grid from [[gapFillDaily]] so gaps count as real zeros.
    *
    * Plan: ONE exchange partitions the grid by event_type; all
    * [[AcfMaxLag]] lag columns are window reads over the SAME sorted
    * frame (the dense grid makes lag-by-rows equal lag-by-days), the
    * explode fans each row into (lag, x, y) pairs, and the
    * sufficient-sum aggregate (exact integer sums — the check.py
    * bit-equality pattern) combines map-side into |types|·lags rows.
    * The grid is |types|·|days| regardless of event volume, so the
    * whole post-scan pipeline is dimension-sized at 100 TB.
    */
  def seriesAcf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagCols = (1 to AcfMaxLag).map { l =>
      lag(col("n_events"), l).over(w).as(s"x_$l")
    }
    val pairStructs = (1 to AcfMaxLag).map { l =>
      struct(lit(l).as("lag"), col(s"x_$l").as("x"))
    }
    densifyDailyCore(Tables.events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events")))
      .select(Seq(col("event_type"), col("day"), col("n_events")) ++ lagCols: _*)
      .withColumn("p", explode(array(pairStructs: _*)))
      .filter(col("p.x").isNotNull)
      .select(col("event_type"), col("p.lag").as("lag"),
        col("p.x").as("x"), col("n_events").as("y"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"), col("n"),
        round(when((col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
            (col("n") * col("syy") - col("sy") * col("sy")) === 0, lit(null))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))).cast("double"))),
          4).as("acf"))
      .orderBy("event_type", "lag")
  }

  val AcfMaxLag = 7

  /** Month-over-month order growth: per calendar month, order count,
    * revenue, and the MoM revenue growth percentage — the
    * period-over-period BI staple. Revenue quantizes to exact cents
    * (the orders_abc discipline) so the growth ratio divides identical
    * bigints in both engines; the lag window runs over the ≤ |months|
    * rollup, never the fact table.
    */
  def monthlyGrowth(spark: SparkSession, dir: String): DataFrame =
    monthlyGrowthFace(dailyRevenue(Tables.orders(spark, dir)))

  /** Cents quantize at the (priority, day) grain — the shared
    * substrate's grain — then roll up, so the batch entry, the oracle,
    * and the streaming fold all sum the SAME integers.
    */
  val monthlyGrowthSql: String =
    """WITH daily AS (
      |  SELECT o_orderpriority AS priority, strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    count(*) AS n_orders,
      |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1, 2),
      |m AS (
      |  SELECT substr(day, 1, 7) AS month, sum(n_orders) AS n_orders,
      |    sum(cents) AS cents
      |  FROM daily GROUP BY 1)
      |SELECT month, CAST(n_orders AS BIGINT) AS n_orders,
      |  round(cents / 100.0, 2) AS revenue,
      |  round((cents - lag(cents) OVER (ORDER BY month)) * 100.0 /
      |    lag(cents) OVER (ORDER BY month), 4) AS mom_pct
      |FROM m ORDER BY month""".stripMargin

  /** Categorical-mix drift monitor: per month, the χ² statistic of the
    * order-priority distribution against the whole-history mix — the
    * data-quality screen that catches a feed whose categorical
    * composition shifts (new upstream, dropped source, schema remap)
    * even when row counts look healthy. Computed via the algebraic
    * identity χ² = Σ_c obs²/exp − N_month (with exp = month_total ·
    * overall_share): absent (month, category) cells contribute ZERO to
    * the obs²/exp sum, so the sparse observed matrix needs no
    * densification to be exact — the naive Σ(obs−exp)²/exp over
    * present cells only would silently drop each missing category's
    * exp term. Every input is an exact integer count, the expression
    * tree is identical in the oracle, and the statistic rounds at
    * 4 dp.
    *
    * Plan: ONE scan partially aggregates the (month, priority) matrix;
    * the overall mix derives from that matrix (re-agg of a dims-sized
    * frame, not a second scan) and broadcasts back; output is
    * |months| rows.
    */
  def categoryDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // re-aggregated three ways below
    val overall = cells.groupBy("priority").agg(sum("n").as("n_cat"))
    val total = cells.agg(sum("n").as("n_total"))
    val monthTotals = cells.groupBy("month").agg(sum("n").as("n_month"))
    cells
      .join(broadcast(overall), Seq("priority"))
      .join(broadcast(monthTotals), Seq("month"))
      .crossJoin(broadcast(total))
      .withColumn("exp",
        col("n_month").cast("double") * col("n_cat") / col("n_total"))
      .groupBy("month")
      .agg(max(col("n_month")).as("n_orders"),
        round(sum(col("n") * col("n") / col("exp")) - max(col("n_month")), 4)
          .as("chi2"))
      .orderBy("month")
  }

  val categoryDriftSql: String =
    """WITH cells AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority AS priority,
      |    count(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |overall AS (SELECT priority, sum(n) AS n_cat FROM cells GROUP BY 1),
      |tot AS (SELECT sum(n) AS n_total FROM cells),
      |mt AS (SELECT month, sum(n) AS n_month FROM cells GROUP BY 1)
      |SELECT month, CAST(max(n_month) AS BIGINT) AS n_orders,
      |  round(sum(n * n / (CAST(n_month AS DOUBLE) * n_cat / n_total))
      |    - max(n_month), 4) AS chi2
      |FROM cells
      |JOIN overall USING (priority)
      |JOIN mt USING (month)
      |CROSS JOIN tot
      |GROUP BY month ORDER BY month""".stripMargin

  /** Supplier revenue concentration per nation — the Herfindahl–
    * Hirschman index Σ share² over each nation's suppliers (1/n =
    * perfectly even, 1.0 = single-supplier), with supplier count and
    * top-share. The sourcing-risk readout a supply-chain dashboard
    * leads with. Revenue quantizes to exact cents per supplier, so
    * shares divide identical bigints; HHI sums ≤ |suppliers-per-
    * nation| identical doubles (4-dp round).
    *
    * Plan: one lineitem scan aggregates per supplier (map-side
    * partials); the supplier dim broadcast attaches the nation; the
    * nation rollup is dims-sized.
    */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.lineitem(spark, dir)
      .groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
        .cast("long")).as("cents"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
    val natTotals = perSupp.groupBy("s_nationkey").agg(sum("cents").as("nat_cents"))
    perSupp
      .join(broadcast(natTotals), Seq("s_nationkey"))
      .withColumn("share", col("cents").cast("double") / col("nat_cents"))
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        round(sum(col("share") * col("share")), 4).as("hhi"),
        round(max(col("share")), 4).as("top_share"))
      .orderBy("nationkey")
  }

  val supplierHhiSql: String =
    """WITH per_supp AS (
      |  SELECT l_suppkey,
      |    sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS cents
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT s_nationkey, cents FROM per_supp
      |  JOIN supplier ON l_suppkey = s_suppkey),
      |nt AS (SELECT s_nationkey, sum(cents) AS nat_cents FROM j GROUP BY 1)
      |SELECT s_nationkey AS nationkey, count(*) AS n_suppliers,
      |  round(sum(power(CAST(cents AS DOUBLE) / nat_cents, 2)), 4) AS hhi,
      |  round(max(CAST(cents AS DOUBLE) / nat_cents), 4) AS top_share
      |FROM j JOIN nt USING (s_nationkey)
      |GROUP BY 1 ORDER BY nationkey""".stripMargin

  /** Customer retention/churn via SET OPERATORS: the distinct buyer
    * sets of the first and second halves of the order history
    * (midpoint split on broadcast integer epoch-day scalars) combined
    * with INTERSECT (retained) and EXCEPT (churned / newly acquired) —
    * the one-row cohort movement summary, and the engine's explicit
    * set-operator coverage (semi/anti joins express the same
    * predicates; `intersect`/`except` are the relational faces a SQL
    * user reaches for).
    *
    * Plan: one orders scan feeds both halves (the split is a filter,
    * not a second read); each set op is a distinct-aggregate shuffle
    * on custkey; the five counts union into one row.
    */
  def customerChurnSets(spark: SparkSession, dir: String): DataFrame = {
    val bounds = Tables.orders(spark, dir)
      .agg(min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
    val dated = Tables.orders(spark, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
      .crossJoin(broadcast(bounds))
      .withColumn("mid", expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
    val first = dated.filter(col("day") <= col("mid")).select("o_custkey").distinct()
    val second = dated.filter(col("day") > col("mid")).select("o_custkey").distinct()
    val row = (name: String, df: DataFrame) =>
      df.agg(count(lit(1)).as("n")).select(lit(name).as("cohort"), col("n"))
    row("1_first", first)
      .unionByName(row("2_second", second))
      .unionByName(row("3_retained", first.intersect(second)))
      .unionByName(row("4_churned", first.except(second)))
      .unionByName(row("5_new", second.except(first)))
      .orderBy("cohort")
  }

  val customerChurnSetsSql: String =
    """WITH b AS (
      |  SELECT CAST(min(o_orderdate) AS DATE) AS d0, CAST(max(o_orderdate) AS DATE) AS d1
      |  FROM orders),
      |d AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
      |    d0 + CAST(datediff('day', d0, d1) // 2 AS INTEGER) AS mid
      |  FROM orders CROSS JOIN b),
      |f AS (SELECT DISTINCT o_custkey FROM d WHERE day <= mid),
      |s AS (SELECT DISTINCT o_custkey FROM d WHERE day > mid)
      |SELECT '1_first' AS cohort, count(*) AS n FROM f
      |UNION ALL SELECT '2_second', count(*) FROM s
      |UNION ALL SELECT '3_retained', count(*) FROM (SELECT * FROM f INTERSECT SELECT * FROM s)
      |UNION ALL SELECT '4_churned', count(*) FROM (SELECT * FROM f EXCEPT SELECT * FROM s)
      |UNION ALL SELECT '5_new', count(*) FROM (SELECT * FROM s EXCEPT SELECT * FROM f)
      |ORDER BY cohort""".stripMargin

  /** Robust daily anomaly detection per event type: modified z-score
    * 0.6745·(x − median)/MAD over the zero-filled daily grid, flagging
    * days beyond a 2.5 cut (the sensitive end of the standard
    * modified-z thresholds — chosen so the certificate is non-vacuous
    * at every test SF; 3.5 flags nothing below sf0.1) — the MEDIAN/MAD
    * complement of [[valueAnomalies]]' mean/stddev screen (robust to
    * the very outliers it hunts, where a burst day drags a mean-based
    * threshold toward itself).
    *
    * Cross-engine discipline: medians ride the certified
    * `percentile` ↔ `quantile_cont` pairing over INTEGER counts (both
    * engines interpolate the same doubles), the score expression tree
    * is identical on both sides, and the cut is applied to the
    * 4-dp ROUNDED score so no boundary day can flip on a last-ulp
    * difference. Zero-MAD types (constant series) emit nothing by
    * definition.
    *
    * Plan: the grid is |types|·|days|-sized (dimension work at any
    * event volume); both median aggregates partial per type, and the
    * med/MAD tables broadcast back onto the grid.
    */
  def dailyAnomaliesMad(spark: SparkSession, dir: String): DataFrame = {
    val grid = densifyDailyCore(Tables.events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events")))
      .localCheckpoint(true) // consumed twice: median agg + scored join
    val med = grid.groupBy("event_type")
      .agg(expr("percentile(n_events, 0.5)").as("med"))
    val withMed = grid.join(broadcast(med), Seq("event_type"))
    val mad = withMed.groupBy("event_type")
      .agg(expr("percentile(abs(n_events - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), Seq("event_type"))
      .filter(col("mad") > 0)
      .withColumn("mod_z",
        round(lit(0.6745) * (col("n_events") - col("med")) / col("mad"), 4))
      .filter(abs(col("mod_z")) > MadCut)
      .select(col("event_type"), col("day"), col("n_events"), col("mod_z"))
      .orderBy("event_type", "day")
  }

  val MadCut = 2.5

  /** Weekday-seasonality-adjusted daily anomalies — the complement of
    * [[dailyAnomaliesMad]]: MAD flags outliers against the GLOBAL
    * distribution, so a strong weekly cycle makes every Sunday look
    * anomalous; this face subtracts each day-of-week's mean first and
    * z-scores the residuals, surfacing days that are unusual FOR THEIR
    * WEEKDAY. Residual mean/σ are 6-dp-quantized (embedding_outliers
    * rule) so z replays bit-for-bit; emits |z| > 2 days.
    *
    * Scale design: the corpus scan collapses to a ¦days¦-row grid
    * first; everything after is dims-scale (7-row means broadcast,
    * 1-row σ broadcast).
    */
  def seasonalAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("isodow", weekday(col("day")) + 1)
      .localCheckpoint(true)
    val means = daily.groupBy("isodow").agg(round(avg(col("n")), 6).as("dow_mean"))
    val resid = daily.join(broadcast(means), "isodow")
      .withColumn("resid", col("n") - col("dow_mean"))
    val sd = resid.agg(round(sqrt(greatest(
      avg(col("resid") * col("resid")) - avg(col("resid")) * avg(col("resid")),
      lit(0.0))), 6).as("sd"))
    resid.crossJoin(broadcast(sd))
      .filter(col("sd") > 0)
      .withColumn("z", round(col("resid") / col("sd"), 4))
      .filter(abs(col("z")) > 2.0)
      .select(col("day"), col("isodow"), col("n").as("n_events"),
        round(col("resid"), 4).as("resid"), col("z"))
      .orderBy("day")
  }

  val seasonalAnomaliesSql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
      |w AS (SELECT day, CAST(isodow(day) AS INT) AS isodow, n FROM d),
      |m AS (SELECT isodow, round(avg(n), 6) AS dow_mean FROM w GROUP BY 1),
      |r AS (
      |  SELECT w.day, w.isodow, w.n, w.n - m.dow_mean AS resid
      |  FROM w JOIN m USING (isodow)),
      |s AS (
      |  SELECT round(sqrt(greatest(avg(resid*resid) - avg(resid)*avg(resid), 0)), 6) AS sd
      |  FROM r)
      |SELECT strftime(day, '%Y-%m-%d') AS day, isodow, n AS n_events,
      |  round(resid, 4) AS resid, round(resid/s.sd, 4) AS z
      |FROM r, s
      |WHERE s.sd > 0 AND abs(round(resid/s.sd, 4)) > 2.0
      |ORDER BY 1""".stripMargin

  /** Exactly-once ingestion audit over the event stream — the
    * data-quality check every CDC/event pipeline runs before trusting
    * counts: duplicate event ids (replayed/at-least-once rows),
    * the extra-row mass they contribute, and (user, ts) timestamp
    * collisions (harmless but they bound the resolution any
    * ts-ordered window logic can claim). Two key aggs + two folds.
    */
  def eventDupAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val byId = ev.groupBy("event_id").agg(count(lit(1)).as("c"))
    val collisions = ev.groupBy("user_id", "ts").agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_user_ts_collisions"))
    byId.agg(
        sum(col("c")).as("n_events"),
        count(lit(1)).as("n_ids"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_ids"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("n_extra_rows"))
      .crossJoin(broadcast(collisions))
      .withColumn("dup_rate",
        round(col("n_extra_rows").cast("double") / col("n_events"), 6))
  }

  val eventDupAuditSql: String =
    """WITH i AS (SELECT event_id, count(*) AS c FROM events GROUP BY 1),
      |u AS (
      |  SELECT CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_user_ts_collisions
      |  FROM (SELECT user_id, ts, count(*) AS c FROM events GROUP BY 1, 2))
      |SELECT CAST(sum(c) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_ids,
      |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ids,
      |  CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) AS n_extra_rows,
      |  u.n_user_ts_collisions,
      |  round(CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_rate
      |FROM i, u GROUP BY u.n_user_ts_collisions""".stripMargin

  /** Rolling 7-day revenue per order priority — a RANGE-framed window
    * (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over days-since-epoch),
    * which is the correct frame for calendar windows: a ROWS frame
    * silently widens its span across missing days, a RANGE frame keeps
    * the 7-day width through gaps with no densification step.
    *
    * Determinism: daily revenue quantizes to exact integer CENTS
    * before the rolling sum (the orders_abc discipline — a double
    * rolling sum is engine-accumulation-order dependent), so the
    * 7-day totals are exact bigints both sides.
    *
    * Plan: one scan partially aggregates to the (priority, day) grid;
    * the RANGE window shuffles only that dims-sized grid, partitioned
    * by priority.
    */
  def rollingRevenue7d(spark: SparkSession, dir: String): DataFrame =
    rollingRevenueFace(dailyRevenue(Tables.orders(spark, dir)))

  /** (priority, day, n_orders, cents) — the exact-cents daily revenue
    * substrate BOTH calendar read faces project from
    * ([[rollingRevenueFace]], [[monthlyGrowthFace]]); additive in
    * every column, which is what makes the streaming fold
    * ([[graft.streaming.StreamingDailyRevenueJob]]) exact. Cents
    * quantize at the ORDER grain (o_totalprice is a per-row scalar),
    * so the sum is invariant to HOW rows are batched — a day-grain
    * rounding would drift ±1 cent whenever a micro-batch split a day.
    */
  private[graft] def dailyRevenue(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority").as("priority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))

  /** The RANGE-window projection of [[rollingRevenue7d]] — shared with
    * the streaming read face. */
  private[graft] def rollingRevenueFace(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("priority").orderBy("day_n")
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("day_n",
        datediff(to_date(col("day")), lit("1970-01-01").cast("date")))
      .withColumn("rev_7d", round(sum(col("cents")).over(w) / 100.0, 2))
      .select(col("priority"), col("day"), col("n_orders"), col("rev_7d"))
      .orderBy("priority", "day")
  }

  /** The month-rollup + lag projection of [[monthlyGrowth]] — shared
    * with the streaming read face (months sum over priorities). */
  private[graft] def monthlyGrowthFace(daily: DataFrame): DataFrame = {
    // lag-by-position over the sorted month array instead of an
    // unpartitioned lag window (r18): the frame is month-grain (≤ the
    // calendar span of the data — 84 rows on this corpus) and get() is
    // 0-based returning null out-of-bounds, so row 0's prev is null
    // exactly like lag(1)
    daily
      .groupBy(substring(col("day"), 1, 7).as("month"))
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("cents")).as("cents"))
      .agg(sort_array(collect_list(
        struct(col("month"), col("n_orders"), col("cents")))).as("s"))
      .select(col("s"), posexplode(col("s")).as(Seq("i", "e")))
      .select(col("e.month").as("month"), col("e.n_orders").as("n_orders"),
        round(col("e.cents") / 100.0, 2).as("revenue"),
        round((col("e.cents") - get(col("s"), col("i") - 1).getField("cents"))
          * lit(100.0) / get(col("s"), col("i") - 1).getField("cents"), 4)
          .as("mom_pct"))
      .orderBy("month")
  }

  val rollingRevenue7dSql: String =
    """WITH daily AS (
      |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
      |    count(*) AS n_orders,
      |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1, 2),
      |d AS (SELECT *, datediff('day', DATE '1970-01-01', day) AS day_n FROM daily)
      |SELECT priority, strftime(day, '%Y-%m-%d') AS day, n_orders,
      |  round(sum(cents) OVER (PARTITION BY priority ORDER BY day_n
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 2) AS rev_7d
      |FROM d ORDER BY priority, 2""".stripMargin

  val dailyAnomaliesMadSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |grid AS (
      |  SELECT t.event_type, d.day, coalesce(daily.n_events, 0) AS n_events
      |  FROM types t CROSS JOIN days d
      |  LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day),
      |med AS (
      |  SELECT event_type, quantile_cont(n_events, 0.5) AS med
      |  FROM grid GROUP BY 1),
      |wm AS (SELECT g.*, med FROM grid g JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(abs(n_events - med), 0.5) AS mad
      |  FROM wm GROUP BY 1)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
      |  round(0.6745 * (n_events - med) / mad, 4) AS mod_z
      |FROM wm JOIN mad USING (event_type)
      |WHERE mad > 0 AND abs(round(0.6745 * (n_events - med) / mad, 4)) > 2.5
      |ORDER BY event_type, 2""".stripMargin

  /** Association rules over co-purchased part BRANDS within an order —
    * the market-basket primitive (support / confidence / lift) behind
    * "customers who bought X also bought Y". Brands (not part keys)
    * are the item domain: a bounded vocabulary makes the rule matrix
    * dimension-sized while the pair generation still runs over every
    * order.
    *
    * Plan: the brand lookup is a BROADCAST dim join on the projected
    * 2-column part side; ONE orderkey shuffle builds brand baskets
    * (`collect_set` dedups in-aggregate — no separate distinct pass);
    * the basket frame is checkpointed once and consumed three times
    * (total, per-brand counts, pair explode). Pair fan-out is bounded
    * by |brands|² per order (≤625 rows/basket), aggregates map-side
    * into the ≤|brands|² rule matrix, and the count/total joins are
    * broadcasts of dimension-sized frames. All ratios are double
    * divisions of EXACT integer sums, so both engines round the same
    * 4-dp values.
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    val baskets = brandBaskets(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey"),
      Tables.part(spark, dir).select("p_partkey", "p_brand"))
      .localCheckpoint(true) // consumed thrice: total, brand counts, pairs
    assocRulesFace(
      basketPairCounts(baskets),
      basketBrandCounts(baskets),
      baskets.agg(count(lit(1)).as("n_orders")))
  }

  /** Per-order sorted brand baskets — the substrate both the batch
    * entry and [[graft.streaming.StreamingAssocRulesJob]]'s per-batch
    * delta pass build (one orderkey shuffle; the brand dim broadcasts).
    */
  private[graft] def brandBaskets(lineitems: DataFrame, parts: DataFrame): DataFrame =
    lineitems
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("p_brand"))).as("brands"))

  private[graft] def basketPairCounts(baskets: DataFrame): DataFrame =
    baskets
      .select(explode(col("brands")).as("x"), col("brands"))
      .select(col("x"), explode(col("brands")).as("y"))
      .filter(col("x") =!= col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_xy"))

  private[graft] def basketBrandCounts(baskets: DataFrame): DataFrame =
    baskets.select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("n_brand"))

  /** The support/confidence/lift projection over the three count
    * relations — shared verbatim with the streaming read face, so
    * streamed == batch is structural (all counts are integers).
    */
  private[graft] def assocRulesFace(pairs: DataFrame, counts: DataFrame,
                                    totals: DataFrame): DataFrame =
    pairs
      .join(broadcast(counts.select(col("brand").as("x"), col("n_brand").as("n_x"))), Seq("x"))
      .join(broadcast(counts.select(col("brand").as("y"), col("n_brand").as("n_y"))), Seq("y"))
      .crossJoin(broadcast(totals))
      .select(col("x").as("antecedent"), col("y").as("consequent"), col("n_xy"),
        round(col("n_xy").cast("double") / col("n_orders"), 4).as("support"),
        round(col("n_xy").cast("double") / col("n_x"), 4).as("confidence"),
        round((col("n_xy") * col("n_orders")).cast("double") /
          (col("n_x") * col("n_y")), 4).as("lift"))
      .orderBy("antecedent", "consequent")

  /** User-journey prefixes: each user's first [[PathLen]] event types
    * in time order joined into a path string, counted across users —
    * the onboarding-flow / sequence-mining readout ("what do users do
    * first") that complements [[eventTransitions]]' one-step matrix
    * with literal k-step prefixes.
    *
    * Plan: the user-keyed window exchange (the same one sessionization
    * pays) ranks events; `rn <= k` prunes to ≤k rows/user BEFORE any
    * aggregation state builds, and the per-user path assembly reuses
    * the window's partitioning (no second event-volume shuffle —
    * groupBy(user) rides the window exchange). The path histogram is
    * a shuffle over ≤|types|^k distinct strings. Ordering inside the
    * collected array is explicit (sort by rn), never
    * accumulation-order dependent.
    */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    pathHistogram(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PathLen))
  }

  /** The path-assembly half of [[eventPaths]], shared verbatim with the
    * streaming read face ([[graft.streaming.StreamingEventPathsJob]])
    * so streamed == batch is structural: input is (user_id, rn,
    * event_type) prefix rows, output the path histogram. Array order
    * is explicit (sort by rn) — never accumulation-order dependent.
    */
  private[graft] def pathHistogram(prefixRows: DataFrame): DataFrame =
    prefixRows
      .groupBy("user_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy("path")

  val PathLen = 3

  /** Equi-width histogram of line-item extended prices with bounds
    * computed IN-QUERY (no magic constants): [[HistBuckets]] buckets
    * over [min, max], top bucket closed. The profiling primitive a
    * catalog or BI layer renders before choosing any binning.
    *
    * Plan: two passes over one column — a min/max aggregate whose
    * 1-row result BROADCASTS into the binning scan (no driver
    * round-trip), then a map-side-combining aggregate into ≤
    * [[HistBuckets]] groups. Both scans push the single-column
    * projection to parquet. The bucket arithmetic is written with the
    * IDENTICAL expression tree in the oracle so IEEE doubles land in
    * the same bins bit-for-bit.
    */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(spark, dir).select(col("l_extendedprice").as("v"))
    val bounds = v.agg(min("v").as("lo_all"), max("v").as("hi_all"))
    val width = (col("hi_all") - col("lo_all")) / lit(HistBuckets)
    v.crossJoin(broadcast(bounds))
      .select(least(floor((col("v") - col("lo_all")) / width),
        lit(HistBuckets - 1)).cast("int").as("bucket"),
        col("lo_all"), col("hi_all"))
      .groupBy("bucket", "lo_all", "hi_all")
      .agg(count(lit(1)).as("n_items"))
      .select(col("bucket"),
        round(col("lo_all") + col("bucket") * width, 2).as("bucket_lo"),
        round(col("lo_all") + (col("bucket") + 1) * width, 2).as("bucket_hi"),
        col("n_items"))
      .orderBy("bucket")
  }

  val HistBuckets = 20

  /** ABC (Pareto-class) analysis of part revenue: parts sorted by
    * revenue contribution, classified A/B/C at cumulative shares of
    * 80% / 95% / 100% — the inventory-management classic ("which 20%
    * of the catalog earns 80%"). Output is the 3-row class summary.
    *
    * Determinism discipline: per-part revenue is quantized to exact
    * INTEGER CENTS first, so the running total, the grand total, and
    * the 80/95 boundary tests are all pure bigint arithmetic
    * (100·cum ≤ 80·total) — bit-exact in any accumulation order. A
    * double cumsum would NOT be: DuckDB evaluates window sums with a
    * segment tree (pairwise addition order) while Spark accumulates
    * sequentially, and a last-ulp difference at a class boundary
    * flips a row.
    *
    * Plan: one lineitem scan partially aggregates per part; the
    * cumulative pass rides [[graft.functions.Ranks.globalCumsum]]
    * (range partitions + exact integer prefix sums — r14: code, not
    * prose; the grand total is the same pass's own prefix statistic),
    * and the final rollup is 3 rows.
    */
  def ordersAbc(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * 100, 0)
        .cast("long").as("cents"))
    val (cum, total) = graft.functions.Ranks.globalCumsum(
      perPart, col("cents"), Seq(col("cents").desc, col("l_partkey")))
    cum
      .withColumn("total", lit(total))
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise(lit("C")))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("cents")) / 100.0, 2).as("class_revenue"))
      .orderBy("abc_class")
  }

  val ordersAbcSql: String =
    """WITH per_part AS (
      |  SELECT l_partkey,
      |    CAST(round(sum(l_extendedprice * (1.0 - l_discount)) * 100, 0) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT l_partkey, cents,
      |    sum(cents) OVER (ORDER BY cents DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cents) OVER () AS total
      |  FROM per_part)
      |SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
      |            WHEN cum * 100 <= total * 95 THEN 'B'
      |            ELSE 'C' END AS abc_class,
      |  count(*) AS n_parts, round(sum(cents) / 100.0, 2) AS class_revenue
      |FROM ranked GROUP BY 1 ORDER BY abc_class""".stripMargin

  val priceHistogramSql: String =
    """WITH b AS (
      |  SELECT min(l_extendedprice) AS lo_all, max(l_extendedprice) AS hi_all
      |  FROM lineitem),
      |binned AS (
      |  SELECT CAST(least(floor((l_extendedprice - lo_all) / ((hi_all - lo_all) / 20)),
      |    19) AS INTEGER) AS bucket, lo_all, hi_all
      |  FROM lineitem CROSS JOIN b)
      |SELECT bucket,
      |  round(lo_all + bucket * ((hi_all - lo_all) / 20), 2) AS bucket_lo,
      |  round(lo_all + (bucket + 1) * ((hi_all - lo_all) / 20), 2) AS bucket_hi,
      |  count(*) AS n_items
      |FROM binned GROUP BY 1, 2, 3 ORDER BY bucket""".stripMargin

  /** Day-of-week seasonality profile of order flow: per ISO weekday,
    * order count, revenue, and a flat-is-1.0 traffic index
    * (7·n_dow/n_total — exact integer arithmetic, so the index is
    * bit-stable across engines; revenue is informational at 2 dp).
    * The calendar-shape readout a forecaster or capacity planner
    * checks before believing any trend.
    *
    * Plan: one scan, map-side partials into ≤7 groups; the total for
    * the index is a window over the 7-row result, not a second scan.
    */
  def salesSeasonality(spark: SparkSession, dir: String): DataFrame = {
    // total-by-array-fold over the ≤7-row histogram instead of an
    // unpartitioned window (r18; see benfordAudit) — one scan, no
    // single-partition WindowExec
    Tables.orders(spark, dir)
      .select((weekday(col("o_orderdate")) + 1).as("isodow"), col("o_totalprice"))
      .groupBy("isodow")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .agg(sort_array(collect_list(
        struct(col("isodow"), col("n_orders"), col("revenue")))).as("s"))
      .select(col("s"),
        aggregate(col("s"), lit(0L), (a, x) => a + x.getField("n_orders")).as("n_total"))
      .select(posexplode(col("s")).as(Seq("i", "e")), col("n_total"))
      .select(col("e.isodow").as("isodow"), col("e.n_orders").as("n_orders"),
        col("e.revenue").as("revenue"),
        round(lit(7) * col("e.n_orders").cast("double") /
          col("n_total"), 4).as("traffic_index"))
      .orderBy("isodow")
  }

  val salesSeasonalitySql: String =
    """WITH dow AS (
      |  SELECT isodow(o_orderdate) AS isodow, count(*) AS n_orders,
      |    round(sum(o_totalprice), 2) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT isodow, n_orders, revenue,
      |  round(7 * CAST(n_orders AS DOUBLE) / sum(n_orders) OVER (), 4) AS traffic_index
      |FROM dow ORDER BY isodow""".stripMargin

  val eventPathsSql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |paths AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM ranked WHERE rn <= 3 GROUP BY user_id)
      |SELECT path, count(*) AS n_users FROM paths GROUP BY 1 ORDER BY path""".stripMargin

  val assocRulesSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, p_brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
      |cnt AS (SELECT p_brand, count(*) AS n_brand FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT a.p_brand AS x, b.p_brand AS y, count(*) AS n_xy
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
      |  GROUP BY 1, 2)
      |SELECT x AS antecedent, y AS consequent, n_xy,
      |  round(CAST(n_xy AS DOUBLE) / t.n_orders, 4) AS support,
      |  round(CAST(n_xy AS DOUBLE) / cx.n_brand, 4) AS confidence,
      |  round(CAST(n_xy * t.n_orders AS DOUBLE) / (cx.n_brand * cy.n_brand), 4) AS lift
      |FROM pairs
      |JOIN cnt cx ON cx.p_brand = x
      |JOIN cnt cy ON cy.p_brand = y
      |CROSS JOIN tot t
      |ORDER BY antecedent, consequent""".stripMargin

  val seriesAcfSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |grid AS (
      |  SELECT t.event_type, d.day, coalesce(daily.n_events, 0) AS n_events
      |  FROM types t CROSS JOIN days d
      |  LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day),
      |lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
      |pairs AS (
      |  SELECT a.event_type, l.lag, b.n_events AS x, a.n_events AS y
      |  FROM grid a CROSS JOIN lags l
      |  JOIN grid b ON b.event_type = a.event_type
      |    AND b.day = a.day - CAST(l.lag AS INTEGER)),
      |sums AS (
      |  SELECT event_type, lag, count(*) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM pairs GROUP BY 1, 2)
      |SELECT event_type, lag, n,
      |  round(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
      |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
      |      sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)) END, 4) AS acf
      |FROM sums ORDER BY event_type, lag""".stripMargin

  val paretoFrontSql: String =
    """WITH pairs AS (
      |  SELECT p_retailprice AS price, p_size AS size,
      |    count(*) AS n_parts, min(p_partkey) AS first_partkey
      |  FROM part GROUP BY 1, 2)
      |SELECT price AS p_retailprice, size AS p_size, n_parts, first_partkey
      |FROM pairs p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pairs q
      |  WHERE q.price <= p.price AND q.size >= p.size
      |    AND (q.price < p.price OR q.size > p.size))
      |ORDER BY p_retailprice""".stripMargin
}
