package graft.queries

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-completeness operators: the join kinds, grouping extensions
  * (ROLLUP), pivot, set operations, and window frames a user of a general
  * engine expects even though the reference only exercises inner joins.
  * Cross-engine determinism notes: Spark's ASC default is NULLS FIRST,
  * DuckDB's is NULLS LAST — every oracle ORDER BY pins NULLS FIRST
  * explicitly wherever an outer join or ROLLUP can emit NULL keys.
  */
object RelQueries {

  /** Left outer join + aggregation: every customer, with or without orders.
    * The join shuffles on the key at scale; AQE handles the skew. Customers
    * without orders surface as zero counts (never dropped).
    */
  def custOrdersOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    // restrict the right side to one year so unmatched customers exist and
    // the NULL-preserving branch actually executes (on the full table every
    // customer has orders — verified vacuous)
    val o = Tables.orders(spark, sfDir)
      .where(
        col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey").as("c_custkey"))
      .agg(
        count(o("o_orderkey")).as("n_orders"),
        coalesce(sum(o("o_totalprice").cast("decimal(18,2)")), lit(0).cast("decimal(18,2)"))
          .cast("double").as("total_spent"))
      .orderBy("c_custkey")
  }

  val custOrdersOuterSql: String =
    """SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
      |       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
      |FROM customer LEFT JOIN (
      |  SELECT * FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      |) ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** EXISTS / NOT EXISTS per segment in ONE pass: distinct active customers
    * (a left-semi-shaped aggregate on orders) left-outer-joined to customer,
    * then conditional aggregation — n_with = matched, n_without = null
    * probe. One scan of each table, one join, one agg; the earlier
    * two-branch form (semi + anti + full-outer merge) scanned both tables
    * twice for the same answer.
    */
  def semiAntiCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    // same one-year slice as custOrdersOuter: guarantees the anti branch
    // is non-empty on the testdata; distinct first so the outer join can't
    // multiply customer rows
    val o = Tables.orders(spark, sfDir)
      .where(
        col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .select("o_custkey")
      .distinct()
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy("c_mktsegment")
      .agg(
        count(o("o_custkey")).as("n_with_orders"),
        sum(when(o("o_custkey").isNull, 1L).otherwise(0L)).as("n_without_orders"))
      .orderBy("c_mktsegment")
  }

  val semiAntiCustomersSql: String =
    """WITH o95 AS (
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
      |w AS (
      |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_with_orders
      |  FROM customer WHERE EXISTS (SELECT 1 FROM o95 WHERE o_custkey = c_custkey)
      |  GROUP BY c_mktsegment),
      |wo AS (
      |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_without_orders
      |  FROM customer WHERE NOT EXISTS (SELECT 1 FROM o95 WHERE o_custkey = c_custkey)
      |  GROUP BY c_mktsegment)
      |SELECT COALESCE(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
      |       COALESCE(n_with_orders, 0) AS n_with_orders,
      |       COALESCE(n_without_orders, 0) AS n_without_orders
      |FROM w FULL JOIN wo ON w.c_mktsegment = wo.c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** ROLLUP over (status, priority): subtotals + grand total in one pass —
    * Spark expands grouping sets map-side, still one shuffle. Sort pins
    * grouping_id first so NULL-filled subtotal rows order identically in
    * both engines.
    */
  def ordersRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .select("gid", "o_orderstatus", "o_orderpriority", "n", "total")
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val ordersRollupSql: String =
    """SELECT CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
      |       o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** CUBE over (status, priority): all four grouping sets in one pass —
    * with ROLLUP above, the complete grouping-extension family. Same
    * NULLS FIRST pinning discipline.
    */
  def ordersCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .select("gid", "o_orderstatus", "o_orderpriority", "n", "total")
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val ordersCubeSql: String =
    """SELECT CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
      |       o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Pivot: order counts by status × pinned priority list → fixed columns.
    * Equivalent to conditional aggregation (the oracle form); Spark plans
    * it as a single aggregate, no extra shuffle over the groupBy.
    */
  def ordersPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnRenamed("1-URGENT", "urgent")
      .withColumnRenamed("2-HIGH", "high")
      .withColumnRenamed("3-MEDIUM", "medium")
      .orderBy("o_orderstatus")

  val ordersPivotSql: String =
    """SELECT o_orderstatus,
      |  CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
      |  CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS high,
      |  CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Set operations over customer activity in two adjacent half-years:
    * INTERSECT (active in both), EXCEPT (H1-only), UNION — tagged into one
    * result. Computed from ONE membership aggregate: scan the year once,
    * groupBy customer with per-half max-flags, then derive all three sets
    * as filters over the flags — INTERSECT = h1∧h2, EXCEPT = h1∧¬h2,
    * UNION = every grouped key. The naive intersect/except/union form
    * planned 6 scans of orders and 3 aggregation shuffles for the same
    * answer (round-1 plan); this is 1 scan + 1 shuffle, with the three
    * branches sharing the exchange (ReusedExchange). The half-year framing
    * keeps every branch non-trivial at every SF (orders/customer is
    * SF-invariant ≈10 over 6.6 years, so membership is a coin flip).
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val mid = lit(java.sql.Timestamp.valueOf("1995-07-01 00:00:00"))
    val flags = Tables.orders(spark, sfDir)
      .where(
        col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .groupBy("o_custkey")
      .agg(
        max(when(col("o_orderdate") < mid, 1).otherwise(0)).as("in_h1"),
        max(when(col("o_orderdate") >= mid, 1).otherwise(0)).as("in_h2"))
    val i = flags.where(col("in_h1") === 1 && col("in_h2") === 1)
      .select(col("o_custkey"), lit("both_halves").as("op"))
    val e = flags.where(col("in_h1") === 1 && col("in_h2") === 0)
      .select(col("o_custkey"), lit("h1_only").as("op"))
    val u = flags.select(col("o_custkey"), lit("either").as("op"))
    i.unionByName(e).unionByName(u).orderBy("op", "o_custkey")
  }

  val setOpsSql: String =
    """WITH h1 AS (SELECT o_custkey FROM orders
      |            WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'),
      |h2 AS (SELECT o_custkey FROM orders
      |       WHERE o_orderdate >= TIMESTAMP '1995-07-01' AND o_orderdate < TIMESTAMP '1996-01-01')
      |SELECT * FROM (
      |  SELECT o_custkey, 'both_halves' AS op FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
      |  UNION ALL
      |  SELECT o_custkey, 'h1_only' AS op FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
      |  UNION ALL
      |  SELECT o_custkey, 'either' AS op FROM (SELECT * FROM h1 UNION SELECT * FROM h2)
      |) ORDER BY op, o_custkey""".stripMargin

  /** Window frames: per-customer running order total (rows unbounded
    * preceding → current) with lag/lead — full analytic-function surface.
    * One shuffle on the partition key; frame evaluation is a linear pass.
    * Sliced to one segment to keep the oracle result compact.
    */
  def windowFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .where(col("o_custkey") < 50)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(frame).cast("double").as("running_total"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        row_number().over(w).as("order_seq"))
      .orderBy("o_custkey", "order_seq")
  }

  val windowFramesSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
      |  LEAD(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
      |FROM orders WHERE o_custkey < 50
      |ORDER BY o_custkey, order_seq""".stripMargin

  /** Subquery surface, exercised through `spark.sql` so Catalyst's subquery
    * handling (scalar-subquery extraction, EXISTS decorrelation into a
    * semi-join) actually runs: per-segment counts of customers above the
    * global mean balance who ordered in 1995. The same SQL text is the
    * oracle — one definition, two engines.
    */
  val subqueriesSql: String =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rich_active
      |FROM customer
      |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
      |  AND EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_orderdate >= TIMESTAMP '1995-01-01'
      |                AND o_orderdate < TIMESTAMP '1996-01-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  def subqueries(spark: SparkSession, sfDir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => Tables.read(spark, sfDir, t).createOrReplaceTempView(t))
    spark.sql(subqueriesSql)
  }

  /** Equi-depth decile histogram of order value, with exact ANSI-NTILE
    * bucket edges (ties broken by orderkey so membership is
    * engine-independent) — in DISTRIBUTED form.
    *
    * The naive shape, `ntile(10) OVER (ORDER BY …)` with no PARTITION BY,
    * makes Spark move every row into ONE task for the WindowExec — a
    * straight scale-killer at 100 TB (round-5 verdict). This keeps the
    * exact semantics with no global window, in three passes:
    *
    *   1. ~31 range cutpoints from the approx-percentile sketch (driver
    *      fetches 31 doubles — control plane). Sketch accuracy affects
    *      only partition BALANCE, never the result.
    *   2. one exact COUNT per range (≤32-row aggregate, collected) →
    *      prefix-sum rank offsets on the driver.
    *   3. scan-side range tag, then a window PARTITIONED BY range: exact
    *      global rank = offset(range) + row_number() within range — 32
    *      concurrent window partitions instead of one. Ranges are
    *      order-contiguous (price ties never straddle a cutpoint because
    *      the tag is `price <= cut`), so per-range ranks + offsets ARE
    *      the global ranks.
    *
    * Bucket then follows from the rank via the ANSI NTILE formula (first
    * N mod 10 buckets take one extra row). The oracle stays the plain
    * NTILE SQL — DuckDB re-derives the buckets from the standard
    * semantics, proving the distributed rank matches them exactly.
    *
    * The technique lives in [[graft.plans.RangedCumsum]] (round 10) — ONE
    * definition shared with `t_perplexity_buckets`' tertiles and
    * `t_token_budget`'s weighted running sum.
    */
  def histogramEquiDepth(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    val (ranked, total) = graft.plans.RangedCumsum.withGlobalCumsum(
      base, "o_totalprice", "o_orderkey", lit(1L), "rk")
    ranked
      .withColumn("bucket",
        graft.plans.RangedCumsum.ntileFromRank("rk", total, 10).cast("bigint"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("bucket")
  }

  val histogramEquiDepthSql: String =
    """SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM (
      |  SELECT o_totalprice,
      |         CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
      |  FROM orders)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Scalar date/time function breadth (§2.6): year/quarter extraction,
    * day-of-month, and day arithmetic against a fixed epoch — all integer
    * results, so no engine formatting or timezone-render hazards (the
    * repo's determinism rule for cross-engine scalars).
    */
  def dateMath(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        year(col("o_orderdate")).cast("bigint").as("yr"),
        quarter(col("o_orderdate")).cast("bigint").as("qtr"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("dom"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since"))
      .groupBy("yr", "qtr")
      .agg(
        count(lit(1)).as("n_orders"),
        max(col("dom")).as("max_dom"),
        min(col("days_since")).cast("bigint").as("min_days"),
        max(col("days_since")).cast("bigint").as("max_days"))
      .orderBy("yr", "qtr")

  val dateMathSql: String =
    """SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
      |       EXTRACT(QUARTER FROM o_orderdate) AS qtr,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       MAX(EXTRACT(DAY FROM o_orderdate)) AS max_dom,
      |       CAST(MIN(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS min_days,
      |       CAST(MAX(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS max_days
      |FROM orders
      |GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin

  /** List/collection aggregation: per-nation sorted roster of suppliers —
    * `collect_list` is Spark's non-deterministic-ORDER aggregate, so the
    * repo's determinism rule applies: ALWAYS `sort_array` (or
    * `array_sort`) the collected list before it leaves the aggregate, here
    * also joined to a single string so the checked output carries no
    * engine-specific array rendering. One keyed shuffle; the dim join
    * broadcasts.
    */
  def arrayAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("n_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        concat_ws(",", sort_array(collect_list(col("s_name")))).as("roster"))
      .orderBy("n_name")
  }

  val arrayAggSql: String =
    """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |       array_to_string(list(s_name ORDER BY s_name), ',') AS roster
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Second-moment statistics per group — corr / covar / regression slope
    * between quantity and price. Spark's `corr`/`covar_pop` aggregate in
    * DOUBLE, whose partial-merge order changes the low bits run to run —
    * unusable for a hash check and silently irreproducible in production.
    * This shape instead folds the five moment sums (Σx, Σy, Σxy, Σx², Σy²)
    * decimal-EXACT in one hash aggregate (decimal×decimal products of 2dp
    * values are exact; partial-agg order can never change the answer), then
    * derives the statistics with one deterministic double expression per
    * output — the same digits on every run, every partitioning, and every
    * engine (the oracle mirrors the expression tree verbatim).
    *
    * Scale posture: one column-pruned scan + map-side partial aggregation
    * into ≤|groups| rows; no joins, no window. The moment-sum trick is the
    * standard one-pass parallel formula, so 100× data = the same plan.
    */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val n = col("n_rows").cast("double")
    def d(name: String) = col(name)
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sx2"),
        sum(y * y).cast("double").as("sy2"))
      .select(
        col("l_returnflag"),
        col("n_rows"),
        round((n * d("sxy") - d("sx") * d("sy")) /
          (sqrt(n * d("sx2") - d("sx") * d("sx")) * sqrt(n * d("sy2") - d("sy") * d("sy"))), 6)
          .as("corr_qty_price"),
        round((n * d("sxy") - d("sx") * d("sy")) / (n * n), 6).as("covar_pop"),
        round((n * d("sxy") - d("sx") * d("sy")) / (n * d("sx2") - d("sx") * d("sx")), 6)
          .as("regr_slope"))
      .orderBy("l_returnflag")
  }

  val statsAggSql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |         COUNT(*)::BIGINT AS n_rows,
      |         CAST(SUM(x) AS DOUBLE) AS sx,
      |         CAST(SUM(y) AS DOUBLE) AS sy,
      |         CAST(SUM(x * y) AS DOUBLE) AS sxy,
      |         CAST(SUM(x * x) AS DOUBLE) AS sx2,
      |         CAST(SUM(y * y) AS DOUBLE) AS sy2
      |  FROM (SELECT l_returnflag,
      |               CAST(l_quantity AS DECIMAL(18,2)) AS x,
      |               CAST(l_extendedprice AS DECIMAL(18,2)) AS y
      |        FROM lineitem)
      |  GROUP BY l_returnflag)
      |SELECT l_returnflag, n_rows,
      |       ROUND((CAST(n_rows AS DOUBLE) * sxy - sx * sy) /
      |             (sqrt(CAST(n_rows AS DOUBLE) * sx2 - sx * sx)
      |              * sqrt(CAST(n_rows AS DOUBLE) * sy2 - sy * sy)), 6) AS corr_qty_price,
      |       ROUND((CAST(n_rows AS DOUBLE) * sxy - sx * sy) /
      |             (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6) AS covar_pop,
      |       ROUND((CAST(n_rows AS DOUBLE) * sxy - sx * sy) /
      |             (CAST(n_rows AS DOUBLE) * sx2 - sx * sx), 6) AS regr_slope
      |FROM s ORDER BY l_returnflag""".stripMargin

  /** Custom GROUPING SETS — two independent one-column rollups plus the
    * grand total in ONE pass (what ROLLUP/CUBE can't express: no
    * (status, priority) cross cells). Spark plans one Expand over the
    * scan feeding a single hash aggregate — the data is read once however
    * many sets are requested. GROUPING() flags disambiguate real NULLs
    * from subtotal rows; both engines order NULLS FIRST explicitly (their
    * defaults differ: Spark NULLS FIRST, DuckDB NULLS LAST).
    */
  def groupingSetsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_gsets")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM orders_gsets
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |         o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
  }

  val groupingSetsAggSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*)::BIGINT AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_prio,
      |         o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Calendar-RANGE window frame — 90-day rolling spend per customer, the
    * time-series frame ROWS can't express (the window widens and narrows
    * with order DENSITY in time, not row count; same-day orders are frame
    * peers by definition). One exchange keyed on o_custkey; each
    * partition's frame scan is linear two-pointer work over that
    * customer's orders, so 100× customers = 100× partitions, no global
    * sort. Decimal-exact sum under the frame, cast once at the end.
    */
  def rollingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_roll")
    spark.sql(
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d
        |FROM orders_roll WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)
  }

  val rollingWindowSql: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |         PARTITION BY o_custkey ORDER BY o_orderdate
      |         RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** CDC upsert apply — MERGE INTO semantics expressed relationally: a
    * deterministic change batch (key-sliced from `orders`, op assigned by
    * key residue) applied to a snapshot via ONE full outer join on the
    * key. Matched+D deletes, matched+U/I updates, unmatched+U/I inserts,
    * unmatched+D is a no-op — the full MERGE decision table, folded to a
    * single audit row: per-op applied counts, before/after cardinality,
    * and a `bit_xor` key fingerprint of the surviving set (the same
    * order-independent checksum discipline as `t_corpus_checksum`, here
    * proving WHICH rows survived, not just how many). At 100 TB this is
    * the nightly-compaction shape: both sides shuffle once on the merge
    * key; with the snapshot bucketed by key, only the (small) change
    * batch moves.
    */
  def cdcUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val snap = ord.where(col("o_orderkey") % 4 =!= 3)
      .select(col("o_orderkey").as("k"), lit(1L).as("in_snap"))
    val chg = ord.where(col("o_orderkey") % 5 === 0)
      .select(
        col("o_orderkey").as("k"),
        when(col("o_orderkey") % 3 === 0, "D")
          .when(col("o_orderkey") % 3 === 1, "U")
          .otherwise("I").as("op"))
    val matched = col("in_snap").isNotNull
    val hasOp = col("op").isNotNull
    val survives = (hasOp && col("op") =!= "D") || (!hasOp && matched)
    snap.join(chg, Seq("k"), "full_outer")
      .agg(
        count(col("in_snap")).as("n_before"),
        count(col("op")).as("n_changes"),
        sum(when(matched && col("op") === "D", 1L).otherwise(0L)).as("n_deleted"),
        sum(when(matched && hasOp && col("op") =!= "D", 1L).otherwise(0L)).as("n_updated"),
        sum(when(!matched && col("op") =!= "D", 1L).otherwise(0L)).as("n_inserted"),
        sum(when(survives, 1L).otherwise(0L)).as("n_after"),
        expr("bit_xor(CASE WHEN (op IS NOT NULL AND op <> 'D') OR (op IS NULL AND in_snap IS NOT NULL) THEN k END)")
          .as("survivor_key_xor"))
  }

  val cdcUpsertSql: String =
    """WITH snap AS (
      |  SELECT o_orderkey AS k, 1::BIGINT AS in_snap FROM orders WHERE o_orderkey % 4 <> 3),
      |chg AS (
      |  SELECT o_orderkey AS k,
      |         CASE o_orderkey % 3 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |j AS (SELECT COALESCE(s.k, c.k) AS k, s.in_snap, c.op
      |      FROM snap s FULL OUTER JOIN chg c ON s.k = c.k)
      |SELECT CAST(COUNT(in_snap) AS BIGINT) AS n_before,
      |       CAST(COUNT(op) AS BIGINT) AS n_changes,
      |       CAST(SUM(CASE WHEN in_snap IS NOT NULL AND op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
      |       CAST(SUM(CASE WHEN in_snap IS NOT NULL AND op IS NOT NULL AND op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      |       CAST(SUM(CASE WHEN in_snap IS NULL AND op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
      |       CAST(SUM(CASE WHEN (op IS NOT NULL AND op <> 'D') OR (op IS NULL AND in_snap IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
      |       bit_xor(CASE WHEN (op IS NOT NULL AND op <> 'D') OR (op IS NULL AND in_snap IS NOT NULL) THEN k END) AS survivor_key_xor
      |FROM j""".stripMargin

  /** Ranking-function breadth (§2.5 completeness): RANK / DENSE_RANK /
    * PERCENT_RANK / CUME_DIST over a tie-heavy ordering (ties are the
    * point — they distinguish the four), plus FIRST_VALUE / NTH_VALUE
    * over a fully-ordered running frame. Determinism rules: the tie-broken
    * rank family is tie-stable (equal inputs get equal outputs), the value
    * functions get a TOTAL order and an explicit frame, the two ratio
    * outputs round to 6 dp, and the final ORDER BY is a total order.
    */
  def rankFunctions(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_rank")
    spark.sql(
      """SELECT o_orderstatus, o_orderkey, o_custkey % 10 AS tie,
        |       CAST(RANK() OVER w AS BIGINT) AS rnk,
        |       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
        |       ROUND(CUME_DIST() OVER w, 6) AS cdist,
        |       FIRST_VALUE(o_orderkey) OVER w2 AS first_key,
        |       NTH_VALUE(o_orderkey, 3) OVER w2 AS third_key
        |FROM orders_rank WHERE o_orderkey < 500
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_custkey % 10),
        |       w2 AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin)
  }

  val rankFunctionsSql: String =
    """SELECT o_orderstatus, o_orderkey, o_custkey % 10 AS tie,
      |       CAST(RANK() OVER w AS BIGINT) AS rnk,
      |       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
      |       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
      |       ROUND(CUME_DIST() OVER w, 6) AS cdist,
      |       FIRST_VALUE(o_orderkey) OVER w2 AS first_key,
      |       NTH_VALUE(o_orderkey, 3) OVER w2 AS third_key
      |FROM orders WHERE o_orderkey < 500
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_custkey % 10),
      |       w2 AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  /** Wide→long unpivot (the melt half of the pivot pair; `q_pivot` is the
    * long→wide half). Spark's `Dataset.unpivot` — the DuckDB twin uses
    * three UNION ALL branches (the portable expansion every engine can
    * run). Variable names carried from the wide column names so the two
    * shapes are exact inverses.
    */
  def unpivotStatus(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.orders(spark, sfDir)
      .groupBy((col("o_custkey") % 10).as("bucket"))
      .agg(
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("O"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("F"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("P"))
    wide.unpivot(
        Array(col("bucket")),
        Array(col("O"), col("F"), col("P")),
        "status", "cnt")
      .orderBy("bucket", "status")
  }

  val unpivotStatusSql: String =
    """WITH wide AS (
      |  SELECT o_custkey % 10 AS bucket,
      |         CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |         CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |  FROM orders GROUP BY 1)
      |SELECT bucket, 'O' AS status, n_o AS cnt FROM wide
      |UNION ALL SELECT bucket, 'F', n_f FROM wide
      |UNION ALL SELECT bucket, 'P', n_p FROM wide
      |ORDER BY bucket, status""".stripMargin

  /** Spark 4 VARIANT round trip — the semi-structured column type a log /
    * event lake actually stores: each order serialized to JSON, parsed
    * into a VARIANT, and the typed fields pulled back out with
    * `variant_get` JSON-path extraction, then rolled up by an extracted
    * field. Exercises the full encode→parse→path→cast pipeline (all
    * scan-side, codegen'd); the oracle reads the ORIGINAL columns in
    * DuckDB, so any loss or coercion anywhere in the variant round trip
    * breaks the hash. Integer/string fields only by design — JSON float
    * formatting is engine-specific and belongs nowhere near a hash gate.
    */
  def variantJson(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .select(to_json(struct(
        col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_orderpriority"))).as("j"))
      .select(expr("parse_json(j)").as("v"))
      .select(
        expr("variant_get(v, '$.o_orderkey', 'long')").as("okey"),
        expr("variant_get(v, '$.o_custkey', 'long')").as("ckey"),
        expr("variant_get(v, '$.o_orderstatus', 'string')").as("status"),
        expr("variant_get(v, '$.o_orderpriority', 'string')").as("prio"))
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n_orders"),
        expr("bit_xor(okey)").as("xor_keys"),
        sum(col("ckey")).as("sum_cust"),
        min(col("prio")).as("min_prio"),
        max(col("prio")).as("max_prio"))
      .orderBy("status")
  }

  val variantJsonSql: String =
    """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       bit_xor(o_orderkey) AS xor_keys,
      |       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
      |       MIN(o_orderpriority) AS min_prio, MAX(o_orderpriority) AS max_prio
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_variant_json" -> (variantJson _),
    "q_cdc_upsert" -> (cdcUpsert _),
    "q_rank_functions" -> (rankFunctions _),
    "q_unpivot" -> (unpivotStatus _),
    "q_rolling_window" -> (rollingWindow _),
    "q_grouping_sets" -> (groupingSetsAgg _),
    "q_stats_agg" -> (statsAgg _),
    "q_array_agg" -> (arrayAgg _),
    "q_histogram" -> (histogramEquiDepth _),
    "q_date_math" -> (dateMath _),
    "q_subqueries" -> (subqueries _),
    "q_outer_join" -> (custOrdersOuter _),
    "q_semi_anti" -> (semiAntiCustomers _),
    "q_rollup" -> (ordersRollup _),
    "q_cube" -> (ordersCube _),
    "q_pivot" -> (ordersPivot _),
    "q_set_ops" -> (setOps _),
    "q_window_frames" -> (windowFrames _))

  val oracle: Map[String, String] = Map(
    "q_variant_json" -> variantJsonSql,
    "q_cdc_upsert" -> cdcUpsertSql,
    "q_rank_functions" -> rankFunctionsSql,
    "q_unpivot" -> unpivotStatusSql,
    "q_rolling_window" -> rollingWindowSql,
    "q_grouping_sets" -> groupingSetsAggSql,
    "q_stats_agg" -> statsAggSql,
    "q_array_agg" -> arrayAggSql,
    "q_histogram" -> histogramEquiDepthSql,
    "q_date_math" -> dateMathSql,
    "q_subqueries" -> subqueriesSql,
    "q_outer_join" -> custOrdersOuterSql,
    "q_semi_anti" -> semiAntiCustomersSql,
    "q_rollup" -> ordersRollupSql,
    "q_cube" -> ordersCubeSql,
    "q_pivot" -> ordersPivotSql,
    "q_set_ops" -> setOpsSql,
    "q_window_frames" -> windowFramesSql)
}
