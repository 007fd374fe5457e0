package graft.queries

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-way join / temporal-join operators beyond the reference's two
  * broadcast dim joins: a TPC-H-Q5-shaped fact⋈fact rollup (the shape that
  * dominates at 100 TB), per-brand top-k over `part`, a supplier⋈nation
  * rollup, and an as-of join (last click before each purchase) — the
  * operator Spark lacks natively, composed from union + running-max window
  * so it needs ONE shuffle on the key, never a range cross-join.
  */
object JoinQueries {

  /** Q5-shaped revenue rollup: lineitem⋈orders (shuffle join on orderkey,
    * AQE-planned) ⋈ customer (shuffle) ⋈ nation⋈region (broadcast). The
    * date predicate pushes into the orders parquet scan; only join keys and
    * the revenue operands are read. At 1000 executors the two big joins
    * hash-partition on their keys and the dims never shuffle.
    */
  def revenueByRegion(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .where(
        col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name").as("r_name"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
      .orderBy("r_name")
  }

  val revenueByRegionSql: String =
    """SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** W-3 over `part`: top-3 parts per brand by retail price. */
  def topkPartsPerBrand(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(desc("p_retailprice"), asc("p_partkey"))
    Tables.part(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy("p_brand", "rn")
  }

  val topkPartsPerBrandSql: String =
    """SELECT p_brand, rn, p_partkey, p_name, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_name, p_retailprice,
      |         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
      |  FROM part
      |) WHERE rn <= 3
      |ORDER BY p_brand, rn""".stripMargin

  /** supplier⋈nation rollup — completes table coverage; broadcast dim. */
  def supplierByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("n_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
      .orderBy("n_name")
  }

  val supplierByNationSql: String =
    """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** As-of join: for each purchase, the most recent click at-or-before it by
    * the same user. Spark has no ASOF JOIN; the scalable composition is
    * union-the-streams + running-max window — one shuffle on user_id,
    * linear scan per partition (vs the naive range-join blowup). Ties at
    * identical ts resolve inclusively (click ≤ purchase), matching the
    * oracle's correlated max subquery exactly.
    */
  def asofClickBeforePurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    // clicks sort before purchases at the same ts so <= semantics hold
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), when(col("event_type") === "click", 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("prev_click_ts", max(when(col("event_type") === "click", col("ts"))).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("prev_click_ts"))
      .orderBy("event_id")
  }

  val asofClickBeforePurchaseSql: String =
    """SELECT a.event_id, a.user_id, a.ts,
      |       (SELECT max(b.ts) FROM events b
      |        WHERE b.user_id = a.user_id AND b.event_type = 'click' AND b.ts <= a.ts) AS prev_click_ts
      |FROM events a
      |WHERE a.event_type = 'purchase'
      |ORDER BY a.event_id""".stripMargin

  /** The SAME as-of semantics through the NATIVE whole-plan operator
    * ([[graft.plans.AsOfJoinPlan]] — custom LogicalPlan + SparkStrategy +
    * merge SparkPlan): one key-shuffle per side, per-partition sorts
    * inserted by EnsureRequirements, then a linear two-pointer merge with
    * O(1) state — no union, no running-max window, and the whole right
    * payload available (this query reads the matched click's ts; a wider
    * payload would come for free, where the window composition would need
    * a struct-max or a re-join). Hash-checked against the identical
    * correlated-subquery oracle as `q_asof_join`, so the two plans are
    * pinned to agree row-for-row.
    */
  def asofNative(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    graft.plans.AsOfJoinPlan
      .asOf(purchases, purchases("user_id"), purchases("ts"),
        clicks, clicks("c_user"), clicks("click_ts"))
      .select(
        col("event_id"), col("user_id"), col("ts"),
        col("click_ts").as("prev_click_ts"))
      .orderBy("event_id")
  }

  /** Multi-payload as-of join — the case the NATIVE operator exists for:
    * each purchase carries the WHOLE matched click row (match ts + 3
    * payload columns) in one co-partitioned merge. The window composition
    * would need a running `max(struct)` (or one window per payload column,
    * see [[asofPayloadComposed]] — the probe twin); the native plan stays
    * one exchange + sort per side regardless of payload width.
    *
    * The right side is pre-aggregated to one row per (user, ts) so the
    * surviving payload under duplicate click timestamps is deterministic
    * (count/min/max are order-insensitive), keeping the hash gate honest.
    * `max_click_value` is a max of STORED doubles — value selection, not
    * arithmetic — so it is cross-engine exact without a decimal detour.
    */
  private def clicksPerUserTs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .where(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .agg(
        count(lit(1)).as("n_clicks"),
        min(col("event_id")).as("first_click_id"),
        max(col("value")).as("max_click_value"))

  def asofPayloadNative(spark: SparkSession, sfDir: String): DataFrame = {
    val purchases = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = clicksPerUserTs(spark, sfDir)
    graft.plans.AsOfJoinPlan
      .asOf(purchases, purchases("user_id"), purchases("ts"),
        clicks, clicks("c_user"), clicks("click_ts"))
      .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"),
        col("n_clicks"), col("first_click_id"), col("max_click_value"))
      .orderBy("event_id")
  }

  /** Probe-only twin of [[asofPayloadNative]] (not in the checked map; the
    * spec pins it row-identical to the native form): the best COMPOSED
    * multi-payload as-of — union the sides, then ONE running
    * `max_by(struct(payload), struct(time, is_click))`-style window via
    * `last(col, ignoreNulls)` per carried column. Payload width buys one
    * extra window function per column over the same sort, which is the
    * cost curve the native merge avoids; timings of both live in
    * BASELINE.md's round-11 as-of probe.
    */
  def asofPayloadComposed(spark: SparkSession, sfDir: String): DataFrame = {
    val purchases = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        lit(null).cast("timestamp").as("click_ts"),
        lit(null).cast("long").as("n_clicks"),
        lit(null).cast("long").as("first_click_id"),
        lit(null).cast("double").as("max_click_value"),
        lit(1).as("is_purchase"))
    val clicks = clicksPerUserTs(spark, sfDir)
      .select(lit(null).cast("long").as("event_id"), col("c_user").as("user_id"),
        col("click_ts").as("ts"), col("click_ts"),
        col("n_clicks"), col("first_click_id"), col("max_click_value"),
        lit(0).as("is_purchase"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_purchase"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .select(col("event_id"), col("user_id"), col("ts"), col("is_purchase"),
        last(col("click_ts"), ignoreNulls = true).over(w).as("click_ts"),
        last(col("n_clicks"), ignoreNulls = true).over(w).as("n_clicks"),
        last(col("first_click_id"), ignoreNulls = true).over(w).as("first_click_id"),
        last(col("max_click_value"), ignoreNulls = true).over(w).as("max_click_value"))
      .where(col("is_purchase") === 1)
      .drop("is_purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"),
        col("n_clicks"), col("first_click_id"), col("max_click_value"))
      .orderBy("event_id")
  }

  val asofPayloadSql: String =
    """WITH c AS (
      |  SELECT user_id AS c_user, ts AS click_ts,
      |         CAST(COUNT(*) AS BIGINT) AS n_clicks,
      |         MIN(event_id) AS first_click_id,
      |         MAX(value) AS max_click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT p.event_id, p.user_id, p.ts,
      |         (SELECT max(c2.click_ts) FROM c c2
      |          WHERE c2.c_user = p.user_id AND c2.click_ts <= p.ts) AS click_ts
      |  FROM p)
      |SELECT m.event_id, m.user_id, m.ts, m.click_ts,
      |       c.n_clicks, c.first_click_id, c.max_click_value
      |FROM m LEFT JOIN c ON c.c_user = m.user_id AND c.click_ts = m.click_ts
      |ORDER BY m.event_id""".stripMargin

  /** Bin width for the range-join decomposition. Interval endpoints are
    * deliberately NOT multiples of this (lo/hi carry odd offsets), so the
    * exact-containment refilter genuinely bites — aligned endpoints would
    * make the bin equi-join exact by construction and hide a broken filter.
    */
  val RangeBinWidth = 20000.0

  /** Overlapping price bands derived from `region` (arbitrary interval
    * endpoints, 2.5-band overlap): the interval table of [[rangeJoinBinned]].
    */
  private def priceBands(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).select(
      col("r_regionkey").as("band_id"),
      (col("r_regionkey").cast("double") * 40000.0 + 777.0).as("lo"),
      (col("r_regionkey").cast("double") * 40000.0 + 100332.0).as("hi"))

  /** Range (interval-containment) join, decomposed to an EQUI-join: both
    * sides map to fixed-width bins — each interval explodes to the bins it
    * covers, each point to the one bin containing it — the join runs on the
    * bin key, and an exact `lo <= x < hi` refilter removes the partial-bin
    * false positives. Spark plans a raw interval predicate as
    * BroadcastNestedLoopJoin (fine for this 5-row band table, quadratic
    * death for a large one); the bin decomposition turns it into a keyed
    * hash join that shuffle-partitions on the bin at any scale — the
    * standard trick (DuckDB's IEJoin and Spark's range-join hints solve the
    * same problem engine-side). Bin width trades explode factor (intervals
    * spanning many bins) against bin population; ~the median interval width
    * is right, here ~5 bins per interval.
    *
    * A point landing in k overlapping intervals is counted once per
    * interval (band_id is part of the output key) but joins exactly once
    * per (point, interval) — the point's bin is unique, so no dedup step is
    * needed.
    */
  def rangeJoinBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = priceBands(spark, sfDir)
      .withColumn(
        "bin",
        explode(sequence(
          floor(col("lo") / RangeBinWidth).cast("long"),
          floor(col("hi") / RangeBinWidth).cast("long"))))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("bin", floor(col("o_totalprice") / RangeBinWidth).cast("long"))
    o.join(bands, Seq("bin"))
      .where(col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band_id")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
      .orderBy("band_id")
  }

  val rangeJoinBinnedSql: String =
    """WITH bands AS (
      |  SELECT r_regionkey AS band_id,
      |         CAST(r_regionkey AS DOUBLE) * 40000.0 + 777.0 AS lo,
      |         CAST(r_regionkey AS DOUBLE) * 40000.0 + 100332.0 AS hi
      |  FROM region)
      |SELECT band_id, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders JOIN bands
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band_id ORDER BY band_id""".stripMargin

  /** Fuzzy (approximate string) self-join: part names within Levenshtein
    * distance [1, 3], blocked on the first name token. The blocking key
    * turns the quadratic all-pairs distance matrix into per-block
    * equi-joins — the record-linkage standard — and the distance runs only
    * inside blocks (shuffle key = block, never a cross join). Distance 0
    * (identical names) is excluded: exact matches are [[graft.text.Dedup]]'s
    * fingerprint job at a fraction of the cost; this operator exists for
    * the near-misses. Corpus capped (p_partkey < 500, the same 500 parts at
    * every SF) so the oracle's in-block quadratic check stays bounded.
    * Blocks in this corpus are ≤ ~80 parts; for heavy-tailed real blocks
    * the [[graft.text.Dedup.MaxBandBucket]]-style cap/salt guard applies
    * unchanged (same keyed-window shape).
    */
  /** The engine function behind [[fuzzyNameJoin]]: blocked Levenshtein
    * pair join over `(id, name)` rows with a HOT-BLOCK CAP — the same skew
    * guard as `graft.text.Dedup.MaxBandBucket`: a heavy-tailed block (every
    * record sharing one common first token) is otherwise locally quadratic.
    * The cap keeps the deterministic bottom-`maxBlockSize` ids per block
    * (keyed window → WindowGroupLimit prunes map-side); `Int.MaxValue`
    * disables it (the checked query's blocks are ≤ ~80).
    */
  def fuzzyJoinOf(
      rows: DataFrame, // (id, name)
      minDist: Int,
      maxDist: Int,
      maxBlockSize: Int = Int.MaxValue): DataFrame = {
    val p0 = rows.select(
      col("id"), col("name"),
      split(col("name"), " ").getItem(0).as("block_key"))
    val p =
      if (maxBlockSize == Int.MaxValue) p0
      else
        p0.withColumn("rk", row_number().over(
            Window.partitionBy("block_key").orderBy("id")))
          .where(col("rk") <= maxBlockSize)
          .drop("rk")
    // threshold form: banded DP with early exit — O(maxDist·n) per pair
    // instead of O(n²), the difference that matters when blocks hold long
    // strings; returns -1 above the bound, so the between() also drops it
    p.as("a")
      .join(p.as("b"),
        col("a.block_key") === col("b.block_key") && col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.name"), col("b.name"), maxDist + 1))
      .where(col("dist").between(minDist, maxDist))
      .select(
        col("a.block_key").as("block_key"),
        col("a.id").as("k1"), col("b.id").as("k2"),
        col("a.name").as("n1"), col("b.name").as("n2"),
        col("dist").cast("bigint").as("dist"))
      .orderBy("k1", "k2")
  }

  def fuzzyNameJoin(spark: SparkSession, sfDir: String): DataFrame =
    fuzzyJoinOf(
      Tables.part(spark, sfDir)
        .where(col("p_partkey") < 500)
        .select(col("p_partkey").as("id"), col("p_name").as("name")),
      minDist = 1, maxDist = 3)

  val fuzzyNameJoinSql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS block_key
      |  FROM part WHERE p_partkey < 500)
      |SELECT a.block_key AS block_key, a.p_partkey AS k1, b.p_partkey AS k2,
      |       a.p_name AS n1, b.p_name AS n2,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM p a JOIN p b
      |  ON a.block_key = b.block_key AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
      |ORDER BY k1, k2""".stripMargin

  /** Q3-shaped shipping-priority query: segment-filtered customers ⋈
    * date-filtered orders ⋈ lineitem, revenue per order, top-10. The
    * classic "find the biggest unshipped orders" analytic. Both date
    * predicates and the segment filter push into their parquet scans;
    * lineitem⋈orders shuffles on orderkey (the key both sides already
    * produce), the filtered customer side joins on custkey — AQE
    * broadcasts it when small, shuffles when the segment is still huge at
    * 100 TB (no hint forced, deliberately). Revenue folds decimal-exact,
    * top-10 is TakeOrderedAndProject (no global sort materializes).
    */
  def shippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("1998-06-01 00:00:00")
    val c = Tables.customer(spark, sfDir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") < lit(cutoff))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") > lit(cutoff))
      .select(
        col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))).as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderkey"))
      .limit(10)
  }

  val shippingPrioritySql: String =
    """SELECT o_orderkey, o_orderdate,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01'
      |  AND l_shipdate > TIMESTAMP '1998-06-01'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shipping_priority" -> (shippingPriority _),
    "q_revenue_by_region" -> (revenueByRegion _),
    "q_topk_parts_brand" -> (topkPartsPerBrand _),
    "q_supplier_by_nation" -> (supplierByNation _),
    "q_asof_join" -> (asofClickBeforePurchase _),
    "q_asof_native" -> (asofNative _),
    "q_asof_payload" -> (asofPayloadNative _),
    "q_range_join" -> (rangeJoinBinned _),
    "q_fuzzy_join" -> (fuzzyNameJoin _))

  val oracle: Map[String, String] = Map(
    "q_shipping_priority" -> shippingPrioritySql,
    "q_revenue_by_region" -> revenueByRegionSql,
    "q_topk_parts_brand" -> topkPartsPerBrandSql,
    "q_supplier_by_nation" -> supplierByNationSql,
    "q_asof_join" -> asofClickBeforePurchaseSql,
    "q_asof_native" -> asofClickBeforePurchaseSql,
    "q_asof_payload" -> asofPayloadSql,
    "q_range_join" -> rangeJoinBinnedSql,
    "q_fuzzy_join" -> fuzzyNameJoinSql)
}
