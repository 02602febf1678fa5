package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tpch.Relational
import graft.registry.Shared._

/** TPC-H style relational queries over `lineitem`, `orders`, `customer`,
  * `part` and `nation`: the classic TPC-H shapes (most planned in
  * [[graft.tpch.Relational]]), cubes and pivots, and Fellegi–Sunter record
  * linkage over `customer`.
  */
object TpchQueries {

  /** The Fellegi–Sunter candidate/score pair frame over customer — five
    * linkage faces (pairs, clusters, blocking eval, review queue, eval)
    * previously each re-ran the two-pass blocking + scoring pipeline.
    */
  private def sharedFsPairs(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "fsPairs") {
      graft.ops.RecordLinkage.fsPairs(table(s, dir, "customer"))
        .localCheckpoint(eager = true)
    }

  /** Shared CTEs for the Fellegi–Sunter record-linkage oracle: corrupted
    * replica, clean side, two-pass blocked candidates (UNION dedups), and
    * the scored agreement frame — constants mirror
    * [[graft.ops.RecordLinkage]] exactly.
    */
  private val RecordLinkageCtes: String =
    """d AS (
      |  SELECT c_custkey AS d_key,
      |    CASE WHEN c_custkey % 3 = 0 THEN 'CUST-' || substring(c_name, 10)
      |         WHEN c_custkey % 3 = 1 THEN upper(c_name)
      |         ELSE c_name END AS d_name,
      |    c_nationkey AS d_nation,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + c_custkey % 21 - 10 AS d_cents,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS d_seg
      |  FROM customer
      |), c AS (
      |  SELECT c_custkey AS c_key, c_name, c_nationkey AS c_nation,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS c_cents,
      |    c_mktsegment AS c_seg
      |  FROM customer
      |), cand AS (
      |  SELECT d_key, c_key FROM d JOIN c ON d_nation = c_nation
      |    AND regexp_replace(d_name, '[^0-9]', '', 'g') = regexp_replace(c_name, '[^0-9]', '', 'g')
      |    AND length(regexp_replace(d_name, '[^0-9]', '', 'g')) > 0
      |  UNION
      |  SELECT d_key, c_key FROM d JOIN c ON d_nation = c_nation
      |    AND (d_cents + 1000000) // 1000 = (c_cents + 1000000) // 1000
      |), ag AS (
      |  SELECT cand.d_key, cand.c_key,
      |    CASE WHEN d.d_name = c.c_name THEN 1 ELSE 0 END AS a_name_exact,
      |    CASE WHEN 2 * len(list_intersect(
      |        list_distinct(list_transform(range(1, greatest(length(lower(d.d_name)) - 1, 2)),
      |          i -> substring(lower(d.d_name), i, 3))),
      |        list_distinct(list_transform(range(1, greatest(length(lower(c.c_name)) - 1, 2)),
      |          i -> substring(lower(c.c_name), i, 3)))))
      |      >= len(list_distinct(list_concat(
      |        list_distinct(list_transform(range(1, greatest(length(lower(d.d_name)) - 1, 2)),
      |          i -> substring(lower(d.d_name), i, 3))),
      |        list_distinct(list_transform(range(1, greatest(length(lower(c.c_name)) - 1, 2)),
      |          i -> substring(lower(c.c_name), i, 3))))))
      |      THEN 1 ELSE 0 END AS a_name_tri,
      |    CASE WHEN abs(d.d_cents - c.c_cents) <= 10 THEN 1 ELSE 0 END AS a_bal,
      |    CASE WHEN d.d_seg = c.c_seg THEN 1 ELSE 0 END AS a_seg
      |  FROM cand JOIN d ON cand.d_key = d.d_key JOIN c ON cand.c_key = c.c_key
      |), sc AS (
      |  SELECT d_key, c_key, a_name_exact, a_name_tri, a_bal, a_seg,
      |    CAST(CASE WHEN a_name_exact = 1 THEN 2000000 ELSE -400000 END
      |       + CASE WHEN a_name_tri = 1 THEN 300000 ELSE -1200000 END
      |       + CASE WHEN a_bal = 1 THEN 3000000 ELSE -500000 END
      |       + CASE WHEN a_seg = 1 THEN 700000 ELSE -900000 END AS BIGINT) AS score_micro
      |  FROM ag
      |), dec AS (
      |  SELECT *,
      |    CAST(CASE WHEN score_micro >= 2000000 THEN 1 ELSE 0 END AS INT) AS predicted,
      |    CAST(CASE WHEN d_key = c_key THEN 1 ELSE 0 END AS INT) AS is_true
      |  FROM sc
      |)""".stripMargin

  /** TPC-H Q3 (BUILDING segment, 1998-06-01 split): the ten orders with
    * the largest unshipped revenue — bucketing changes the plan, not the
    * answer, so both faces share it.
    */
  private val Q3TopOrdersOracle: String =
    """SELECT o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
      |  CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01'
      |  AND l_shipdate > TIMESTAMP '1998-06-01'
      |GROUP BY 1, 2
      |ORDER BY revenue_cents DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Lineitem prices in cents `v(g, v)` per return flag `g`, ranked
    * within the flag in `r(g, v, rn, n)`.
    */
  private val PriceRankCtes: String =
    """v AS (
      |  SELECT l_returnflag AS g,
      |    CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS v
      |  FROM lineitem
      |), r AS (
      |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY g) AS n
      |  FROM v""".stripMargin

  /** Per-return-flag median `m` of the cents prices ranked in
    * [[PriceRankCtes]], absolute deviations `d`, and their ranks `r2`.
    */
  private val MadRankCtes: String =
    s"""$PriceRankCtes
      |), m AS (
      |  SELECT g, max(n) AS n, max(v) AS med FROM r WHERE rn = (n + 1) // 2 GROUP BY g
      |), d AS (
      |  SELECT v.g, abs(v.v - m.med) AS dev, m.n, m.med FROM v JOIN m ON v.g = m.g
      |), r2 AS (
      |  SELECT g, dev, n, med, row_number() OVER (PARTITION BY g ORDER BY dev) AS rn FROM d""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("sql_frontdoor") { (s, dir) =>
      // The SQL surface the reference lacks: the engine's own spark.sql runs
      // ANSI SQL over registered views — same relational core, text front
      // door.
      table(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
          count(*) AS n_lines
        FROM v_lineitem
        WHERE l_quantity >= 25
        GROUP BY l_returnflag, l_linestatus
      """)
    }.oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_quantity >= 25
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    Query("q1_pricing_summary") { (s, dir) =>
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))
            .as("sum_charge_cents"),
          count(lit(1)).as("count_order")
        )
    }.oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*(1 + l_tax)*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin),
    Query("q3_top_orders")((s, dir) => Relational.q3TopOrders(s, dir)).oracle(Q3TopOrdersOracle),
    Query("q3_top_orders_bucketed")((s, dir) => Relational.q3TopOrdersBucketed(s, dir)).oracle(Q3TopOrdersOracle),
    Query("q5_region_revenue")((s, dir) => Relational.q5RegionRevenue(s, dir)).oracle(
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        |GROUP BY 1""".stripMargin),
    Query("part_brand_stats")((s, dir) => Relational.partBrandStats(s, dir)).oracle(
      """SELECT p_brand,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin),
    Query("returns_rollup") { (s, dir) =>
      // Grouping-sets coverage: ROLLUP over (returnflag, linestatus) with
      // subtotal and grand-total rows (NULL group indicators align across
      // engines).
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          count(lit(1)).as("n_lines")
        )
    }.oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  count(*) AS n_lines
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    Query("flags_cube") { (s, dir) =>
      // Full grouping-sets coverage beyond ROLLUP: CUBE over two dimensions
      // (all four grouping-set combinations, NULL indicators aligned).
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("n_lines")
        )
    }.oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_lines
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    Query("status_pivot") { (s, dir) =>
      // Pivot surface: per-returnflag line counts pivoted by linestatus.
      // Values enumerated explicitly — at scale an implicit pivot would
      // first run a distinct scan over the pivot column.
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(
          col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o")
        )
    }.oracle(
      """SELECT l_returnflag,
        |  count(*) FILTER (l_linestatus = 'F') AS n_f,
        |  count(*) FILTER (l_linestatus = 'O') AS n_o
        |FROM lineitem GROUP BY 1""".stripMargin),
    Query("lineitem_profile_approx") { (s, dir) =>
      // Sketch path: the 100 TB substitute for exact countDistinct /
      // percentile (whose state is unbounded) — portable HLL at m=4096
      // for both distinct counts (one scan, ≤ m registers per key across
      // the exchange) + dollar-histogram median. Every output is
      // integer-exact, so the approximate profile carries the full SQL
      // oracle; accuracy vs exact spec'd in RelationalSpec.
      Relational.lineitemProfileApprox(s, dir)
    }.oracle({
      // same portable-HLL replay as hll_daily_users, at m=4096 (p=12 →
      // rho base 21, m²=16777216, 2.5m=10240), keyed 'orders'/'parts' and
      // pivoted to one row; alpha comes from the SAME Scala constant the
      // engine uses, printed shortest-roundtrip so both engines parse the
      // identical double
      val alpha = graft.ops.HeavyHitters.hllAlpha(4096).toString
      s"""WITH items AS (
         |  SELECT 'orders' AS k, CAST(l_orderkey AS VARCHAR) AS item FROM lineitem
         |  UNION ALL
         |  SELECT 'parts' AS k, CAST(l_partkey AS VARCHAR) AS item FROM lineitem
         |), h AS (
         |  SELECT k, CAST(('0x' || substr(md5('hll-' || item), 1, 8)) AS BIGINT) AS hv FROM items
         |), b AS (
         |  SELECT k, CAST(hv % 4096 AS INT) AS bucket, hv // 4096 AS w FROM h
         |), r AS (
         |  SELECT k, bucket,
         |    max(CASE WHEN w = 0 THEN 21 ELSE 21 - length(bin(w)) END) AS rho
         |  FROM b GROUP BY 1, 2
         |), ks AS (SELECT DISTINCT k FROM items),
         |regs AS (
         |  SELECT ks.k, g.bucket, CAST(COALESCE(r.rho, 0) AS INT) AS rho
         |  FROM ks CROSS JOIN (SELECT unnest(range(4096)) AS bucket) g
         |  LEFT JOIN r ON r.k = ks.k AND r.bucket = g.bucket
         |), agg AS (
         |  SELECT k,
         |    CAST(sum(CAST(1 AS BIGINT) << (32 - rho)) AS BIGINT) AS s_scaled,
         |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
         |  FROM regs GROUP BY 1
         |), est AS (
         |  SELECT k,
         |    CAST(floor(
         |      CASE WHEN (${alpha}e0 * 16777216.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0)) <= 10240.0e0
         |            AND v_empty > 0
         |      THEN 4096.0e0 * ln(4096.0e0 / CAST(v_empty AS DOUBLE))
         |      ELSE ${alpha}e0 * 16777216.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0) END
         |      * 1e6 + 0.5e0) AS BIGINT) AS est_micro
         |  FROM agg
         |), hll AS (
         |  SELECT max(CASE WHEN k = 'orders' THEN est_micro END) AS n_orders_est_micro,
         |         max(CASE WHEN k = 'parts' THEN est_micro END) AS n_parts_est_micro
         |  FROM est
         |), hist AS (
         |  SELECT CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) // 100 AS b, count(*) AS cnt
         |  FROM lineitem GROUP BY 1
         |), cum AS (
         |  SELECT b, cnt,
         |    sum(cnt) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER () AS total
         |  FROM hist
         |), med AS (
         |  SELECT CAST(max(total) AS BIGINT) AS n_rows,
         |    CAST(min(CASE WHEN cum >= (total + 1) // 2 THEN b END) AS BIGINT) AS p50_price_dollars
         |  FROM cum
         |)
         |SELECT n_rows, n_orders_est_micro, n_parts_est_micro, p50_price_dollars
         |FROM hll, med""".stripMargin
    }),
    Query("q7_nation_volume")((s, dir) => Relational.q7NationVolume(s, dir)).oracle(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        |   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
        |GROUP BY 1, 2, 3""".stripMargin),
    Query("q10_returned_revenue")((s, dir) => Relational.q10ReturnedRevenue(s, dir)).oracle(
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, c_custkey
        |LIMIT 20""".stripMargin),
    Query("q14_promo_share")((s, dir) => Relational.q14PromoShare(s, dir)).oracle(
      """WITH m AS (
        |  SELECT epoch_ms(date_trunc('month', l_shipdate)) AS ship_month_ms,
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS promo_cents,
        |    CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1
        |)
        |SELECT ship_month_ms, promo_cents, total_cents,
        |  CAST(floor(promo_cents * 10000.0 / total_cents) AS BIGINT) AS promo_bps
        |FROM m""".stripMargin),
    Query("q19_disjunctive_revenue")((s, dir) => Relational.q19DisjunctiveRevenue(s, dir)).oracle(
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 5 AND 35)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 10 AND 50)""".stripMargin),
    Query("returned_order_priorities")((s, dir) => Relational.returnedOrderPriorities(s, dir)).oracle(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin),
    Query("orders_without_returns") { (s, dir) =>
      // NOT EXISTS → left-anti join: orders with no returned line.
      val returned = table(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      table(s, dir, "orders")
        .join(returned, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }.oracle(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin),
    Query("sql_correlated_max") { (s, dir) =>
      // Correlated scalar subquery through the SQL front door — Catalyst
      // decorrelates to an aggregate + join (no per-row subquery execution).
      table(s, dir, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT o_orderpriority, o_orderkey,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS totalprice_cents
        FROM v_orders o
        WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                              FROM v_orders o2
                              WHERE o2.o_orderpriority = o.o_orderpriority)
      """)
    }.oracle(
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS totalprice_cents
        |FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice)
        |                      FROM orders o2
        |                      WHERE o2.o_orderpriority = o.o_orderpriority)""".stripMargin),
    Query("top_customers_per_nation")((s, dir) => Relational.topCustomersPerNation(s, dir)).oracle(
      """WITH ranked AS (
        |  SELECT n_name, c_custkey, c_name,
        |    CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS acctbal_cents,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) DESC, c_custkey) AS INT) AS rank
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |)
        |SELECT * FROM ranked WHERE rank <= 3""".stripMargin),
    Query("lineitem_profile")((s, dir) => Relational.lineitemProfile(s, dir)).oracle(
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  min(epoch_ms(l_shipdate)) AS min_ship_ms,
        |  max(epoch_ms(l_shipdate)) AS max_ship_ms,
        |  CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM lineitem""".stripMargin),
    Query("segment_stats")((s, dir) => Relational.segmentStats(s, dir)).oracle(
      """SELECT c_mktsegment, count(*) AS n_customers,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  CAST(sum(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents
        |FROM customer GROUP BY 1""".stripMargin),
    Query("q6_forecast_revenue")((s, dir) => Relational.q6ForecastRevenue(s, dir)).oracle(
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice*l_discount*100 + 0.5) AS BIGINT)) AS BIGINT) AS discount_cents,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),
    Query("q4_late_shipments")((s, dir) => Relational.q4LateShipments(s, dir)).oracle(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin),
    Query("q8_market_share")((s, dir) => Relational.q8MarketShare(s, dir)).oracle(
      """WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT) AS c,
        |    sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = 'ASIA'
        |), agg AS (
        |  SELECT o_year,
        |    CAST(sum(CASE WHEN supp_nation = 'NATION_18' THEN c ELSE 0 END) AS BIGINT) AS nation_cents,
        |    CAST(sum(c) AS BIGINT) AS total_cents
        |  FROM base GROUP BY 1
        |)
        |SELECT o_year, nation_cents, total_cents,
        |  CAST(floor(nation_cents * 10000.0 / total_cents) AS BIGINT) AS share_bps
        |FROM agg""".stripMargin),
    Query("q13_order_counts")((s, dir) => Relational.q13OrderCountDistribution(s, dir)).oracle(
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1
        |)
        |SELECT c_count, count(*) AS custdist FROM pc GROUP BY 1""".stripMargin),
    Query("q15_top_suppliers")((s, dir) => Relational.q15TopSuppliers(s, dir)).oracle(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
        |  GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, total_revenue_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev)""".stripMargin),
    Query("q17_small_qty_revenue")((s, dir) => Relational.q17SmallQtyRevenue(s, dir)).oracle(
      """WITH wa AS (
        |  SELECT l_quantity, l_extendedprice,
        |    avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
        |  FROM lineitem
        |)
        |SELECT
        |  CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM wa WHERE l_quantity < avg_qty * 0.5""".stripMargin),
    Query("q18_large_orders")((s, dir) => Relational.q18LargeOrders(s, dir)).oracle(
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 250
        |)
        |SELECT c_custkey, c_name, o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS totalprice_cents, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY totalprice_cents DESC, o_orderkey
        |LIMIT 100""".stripMargin),
    Query("q22_inactive_rich")((s, dir) => Relational.q22InactiveRich(s, dir)).oracle(
      """WITH stats AS (
        |  SELECT CAST(sum(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
        |    count(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0.0
        |)
        |SELECT n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents
        |FROM customer
        |CROSS JOIN stats
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) * n_pos > total_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin),
    Query("record_linkage_pairs") { (s, dir) =>
      // Fellegi-Sunter entity resolution over a deterministically
      // corrupted replica of customer: two blocking passes (nation+segment,
      // nation+$10-balance-bucket), field-agreement vectors (exact name,
      // lowercased trigram Jaccard via the integer 2|A∩B| >= |A∪B| test,
      // ±10c balance proximity, segment equality), frozen integer log-odds
      // score, inclusive threshold decision (ops/RecordLinkage.scala).
      // Optimization r15: the memoized shared pair frame.
      sharedFsPairs(s, dir)
    }.oracle(
      s"""WITH $RecordLinkageCtes
        |SELECT d_key, c_key, a_name_exact, a_name_tri, a_bal, a_seg,
        |  score_micro, predicted, is_true
        |FROM dec""".stripMargin),
    Query("record_linkage_clusters") { (s, dir) =>
      // Entity formation: min-label CC over the PREDICTED match pairs
      // (bipartite-encoded record ids) — pairwise decisions become
      // entities; an FP link shows up as two merged real entities here,
      // is why ER is evaluated at the cluster level too
      // (ops/RecordLinkage.scala).
      graft.ops.RecordLinkage.fsEntityClustersFrom(sharedFsPairs(s, dir))
    }.oracle(
      s"""WITH RECURSIVE $RecordLinkageCtes, good AS (
        |  SELECT d_key * 2 + 1 AS id_a, c_key * 2 AS id_b FROM dec WHERE predicted = 1
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM good UNION SELECT id_b, id_a FROM good
        |), nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS lab FROM nodes
        |  UNION
        |  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
        |), labels AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)
        |SELECT CASE WHEN id % 2 = 1 THEN 'dirty' ELSE 'clean' END AS side,
        |  id // 2 AS rec_key, cluster
        |FROM labels""".stripMargin),
    Query("linkage_blocking_schemes") { (s, dir) =>
      // The blocking-strategy menu priced on one table: the production
      // two-pass equi-join blocking (skew-EXPOSED — a hot block goes
      // quadratic in its population) vs sorted-neighborhood
      // (Hernandez-Stolfo merge/purge; candidates <= 2n(w-1) by
      // construction, skew-IMMUNE) at w in {8,16,32}. One distributed
      // rank (range exchange + zipWithIndex, no unpartitioned window)
      // serves every width; per scheme: candidate volume = the scoring
      // cost it buys, planted-truth blocking recall in micro-units
      // (ops/RecordLinkage.scala).
      graft.ops.RecordLinkage.blockingSchemeEvalFrom(
        table(s, dir, "customer"), sharedFsPairs(s, dir))
    }.oracle(
      s"""WITH $RecordLinkageCtes, u AS (
        |  SELECT 1 AS side, d_key AS key, d_cents AS cents FROM d
        |  UNION ALL SELECT 0, c_key, c_cents FROM c
        |), rk AS (
        |  SELECT side, key,
        |    CAST(row_number() OVER (ORDER BY cents, side, key) AS BIGINT) AS pos
        |  FROM u
        |), snagg AS (
        |  SELECT w.w AS w, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(CASE WHEN a.key = b.key THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
        |  FROM (VALUES (8), (16), (32)) w(w), rk a, rk b
        |  WHERE b.pos - a.pos BETWEEN 1 AND w.w - 1 AND a.side <> b.side
        |  GROUP BY 1
        |), tp AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(CASE WHEN d_key = c_key THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
        |  FROM cand
        |), nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer)
        |SELECT 'two_pass' AS scheme, n_candidates, (SELECT n FROM nt) AS n_truth, n_caught,
        |  n_caught * 1000000 // (SELECT n FROM nt) AS blocking_recall_micro
        |FROM tp
        |UNION ALL
        |SELECT 'sorted_w' || CAST(w AS VARCHAR), n_candidates, (SELECT n FROM nt), n_caught,
        |  n_caught * 1000000 // (SELECT n FROM nt)
        |FROM snagg""".stripMargin),
    Query("linkage_review_queue") { (s, dir) =>
      // The human-review queue every ER deployment runs: candidate
      // pairs whose FS score sits in the ambiguous band around the
      // decision threshold (|score − θ| ≤ 1.5 log-odds units),
      // most-ambiguous-first with a stable global position — band-
      // bounded rows ranked by the distributed primitive
      // (ops/RecordLinkage.scala + ops/Ranking.scala).
      // Eager checkpoint: the band is tiny (ambiguity-bounded) but its
      // lineage is the full two-pass blocking join — without the pin,
      // globalRowNumber's range sampling would re-pay that upstream cost
      // (the round-8 14 s finding; single execution now).
      val band = sharedFsPairs(s, dir)
        .select(
          col("d_key"), col("c_key"), col("score_micro"), col("predicted"), col("is_true"),
          abs(col("score_micro") - graft.ops.RecordLinkage.ThresholdMicro).as("dist_micro"))
        .filter(col("dist_micro") <= 1500000L)
        .localCheckpoint(true)
      graft.ops.Ranking.globalRowNumber(
        band, Seq(col("dist_micro"), col("d_key"), col("c_key")), "queue_pos")
    }.oracle(
      s"""WITH $RecordLinkageCtes, band AS (
        |  SELECT d_key, c_key, score_micro, predicted, is_true,
        |    abs(score_micro - 2000000) AS dist_micro
        |  FROM dec WHERE abs(score_micro - 2000000) <= 1500000
        |)
        |SELECT d_key, c_key, score_micro, predicted, is_true, dist_micro,
        |  CAST(row_number() OVER (ORDER BY dist_micro, d_key, c_key) AS BIGINT)
        |    AS queue_pos
        |FROM band""".stripMargin),
    Query("record_linkage_eval") { (s, dir) =>
      // End-to-end ER scorecard vs the planted key-identity truth in ONE
      // row: candidate volume, blocking recall, TP/FP/FN, exact-integer
      // precision/recall/F1 — recall counts blocking misses too.
      graft.ops.RecordLinkage.fsEvalFrom(
        table(s, dir, "customer"), sharedFsPairs(s, dir))
    }.oracle(
      s"""WITH $RecordLinkageCtes, t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM customer),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(is_true) AS BIGINT) AS n_blocked_true,
        |    CAST(sum(CASE WHEN predicted = 1 AND is_true = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN predicted = 1 AND is_true = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM dec
        |)
        |SELECT t.n_truth, m.n_candidates, m.n_blocked_true,
        |  m.n_blocked_true * 1000000 // t.n_truth AS blocking_recall_micro,
        |  m.tp, m.fp, t.n_truth - m.tp AS fn,
        |  m.tp * 1000000 // greatest(m.tp + m.fp, 1) AS precision_micro,
        |  m.tp * 1000000 // t.n_truth AS recall_micro,
        |  2 * m.tp * 1000000 // greatest(2 * m.tp + m.fp + (t.n_truth - m.tp), 1) AS f1_micro
        |FROM m, t""".stripMargin),
    Query("benford_digits") { (s, dir) =>
      // Benford first-digit screen over price cents: leading digit by
      // string indexing (no log10 arithmetic on the data path), observed
      // share in exact bps next to the micro-rounded Benford expectation
      // (ops/Robust.scala).
      graft.ops.Robust.benfordDigits(
        table(s, dir, "lineitem").select(cents(col("l_extendedprice")).as("v")), "v")
    }.oracle(
      """WITH v AS (
        |  SELECT CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS v FROM lineitem
        |), d AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM v WHERE v >= 1
        |), c AS (
        |  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
        |)
        |SELECT digit, n,
        |  CAST((2 * 10000 * n + sum(n) OVER ()) // (2 * sum(n) OVER ()) AS INT) AS share_bps,
        |  CAST(floor(ln((digit + 1.0e0) / CAST(digit AS DOUBLE)) / ln(10.0e0) * 1e6 + 0.5e0)
        |    AS BIGINT) AS benford_micro
        |FROM c""".stripMargin),
    Query("referential_integrity") { (s, dir) =>
      // FK orphan profile: three anti-join counts unioned into one
      // report — the load-time data contract (ops/Integrity.scala;
      // parent key sets broadcast here, bloom-prefilter path documented
      // for 100 TB parents).
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      graft.ops.Integrity.orphanCount("lineitem_orders", li, "l_orderkey", o, "o_orderkey")
        .union(graft.ops.Integrity.orphanCount("orders_customer", o, "o_custkey", c, "c_custkey"))
        .union(graft.ops.Integrity.orphanCount("customer_nation", c, "c_nationkey", n, "n_nationkey"))
    }.oracle(
      """SELECT 'lineitem_orders' AS fk_check, CAST(count(*) AS BIGINT) AS n_orphans
        |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders_customer', CAST(count(*) AS BIGINT)
        |FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'customer_nation', CAST(count(*) AS BIGINT)
        |FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)""".stripMargin),
    Query("fd_profile") { (s, dir) =>
      // Functional-dependency discovery on orders: which columns
      // determine which — exact distinct-count comparison per candidate
      // (ops/Integrity.scala; HLL substitute noted for huge pair
      // cardinalities).
      val o = table(s, dir, "orders")
      graft.ops.Integrity.functionalDependency(o, "o_orderkey", "o_custkey")
        .union(graft.ops.Integrity.functionalDependency(o, "o_custkey", "o_orderpriority"))
        .union(graft.ops.Integrity.functionalDependency(o, "o_orderdate", "o_orderstatus"))
    }.oracle(
      """SELECT 'o_orderkey->o_custkey' AS fd,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_lhs,
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders)) AS BIGINT) AS n_pairs,
        |  CAST(CASE WHEN count(DISTINCT o_orderkey) =
        |    (SELECT count(*) FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders))
        |    THEN 1 ELSE 0 END AS INT) AS holds
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey->o_orderpriority',
        |  CAST(count(DISTINCT o_custkey) AS BIGINT),
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)) AS BIGINT),
        |  CAST(CASE WHEN count(DISTINCT o_custkey) =
        |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey, o_orderpriority FROM orders))
        |    THEN 1 ELSE 0 END AS INT)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate->o_orderstatus',
        |  CAST(count(DISTINCT o_orderdate) AS BIGINT),
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT o_orderdate, o_orderstatus FROM orders)) AS BIGINT),
        |  CAST(CASE WHEN count(DISTINCT o_orderdate) =
        |    (SELECT count(*) FROM (SELECT DISTINCT o_orderdate, o_orderstatus FROM orders))
        |    THEN 1 ELSE 0 END AS INT)
        |FROM orders""".stripMargin),
    Query("sample_quantiles") { (s, dir) =>
      // Scale-path quantiles: deterministic bottom-k (KMV) uniform sample
      // per group through PARTIAL aggregation (≤64 entries per map
      // partition per group cross the exchange — never the group), then
      // nearest-rank selection on the sample. RNG-free hash order makes
      // the sample bit-identical in DuckDB, so the approximation itself
      // is under the full SQL oracle (ops/Robust.scala).
      graft.ops.Robust.sampleQuantiles(
        table(s, dir, "lineitem")
          .withColumn("price_cents", cents(col("l_extendedprice"))),
        "l_returnflag",
        "price_cents",
        concat_ws("-", col("l_orderkey"), col("l_linenumber")),
        k = 64,
        percents = Seq(25, 50, 75, 95))
    }.oracle(
      // replays the bottom-k sample EXACTLY: same md5-prefix hash, same
      // (hash, id) order, same nearest-rank rule on the sample
      """WITH b AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS id,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
        |      || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
        |    CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS v
        |  FROM lineitem
        |), s AS (
        |  SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY h, id) AS rs,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM b
        |), r AS (
        |  SELECT g, v, n,
        |    row_number() OVER (PARTITION BY g ORDER BY v) AS rv,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS m
        |  FROM s WHERE rs <= 64
        |)
        |SELECT g AS l_returnflag, max(n) AS n, CAST(max(m) AS INT) AS m,
        |  max(CASE WHEN rv = (25*m + 99) // 100 THEN v END) AS p25,
        |  max(CASE WHEN rv = (50*m + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN rv = (75*m + 99) // 100 THEN v END) AS p75,
        |  max(CASE WHEN rv = (95*m + 99) // 100 THEN v END) AS p95
        |FROM r GROUP BY g""".stripMargin),
    Query("group_quantiles") { (s, dir) =>
      // Nearest-rank p25/p50/p75/p95 per group — order-statistic
      // selection, never interpolation, so cents stay integers
      // (ops/Robust.scala; the grouped exact twin of the global
      // value_percentiles).
      graft.ops.Robust.groupedQuantiles(
        table(s, dir, "lineitem")
          .select(col("l_returnflag"), cents(col("l_extendedprice")).as("cents")),
        "l_returnflag",
        "cents",
        Seq(25, 50, 75, 95))
    }.oracle(
      s"""WITH $PriceRankCtes
        |)
        |SELECT g AS l_returnflag, max(n) AS n,
        |  max(CASE WHEN rn = (25 * n + 99) // 100 THEN v END) AS p25,
        |  max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN rn = (75 * n + 99) // 100 THEN v END) AS p75,
        |  max(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS p95
        |FROM r GROUP BY g""".stripMargin),
    Query("group_median_mad") { (s, dir) =>
      // Robust location/spread per group: lower median + MAD by explicit
      // order selection (rank (n+1) div 2) — no interpolating percentile
      // function, so integer cents stay integers (ops/Robust.scala).
      graft.ops.Robust.groupedMedianMad(
        table(s, dir, "lineitem")
          .select(col("l_returnflag"), cents(col("l_extendedprice")).as("cents")),
        "l_returnflag",
        "cents")
    }.oracle(
      s"""WITH $MadRankCtes
        |)
        |SELECT g AS l_returnflag, max(n) AS n, max(med) AS med, max(dev) AS mad
        |FROM r2 WHERE rn = (n + 1) // 2 GROUP BY g""".stripMargin),
    Query("pareto_parts") { (s, dir) =>
      // 2-D Pareto frontier (maximize size AND price): lossless integer
      // grid prune (bucket census broadcast, map-side kill of dominated
      // buckets) + exact dominance anti-join over the staircase band —
      // corpus never shuffles, no sort anywhere (ops/Skyline.scala).
      graft.ops.Skyline.pareto2d(
        table(s, dir, "part")
          .select(
            col("p_size").cast("long").as("p_size"),
            cents(col("p_retailprice")).as("price_cents")),
        "p_size",
        "price_cents")
    }.oracle(
      """WITH t AS (
        |  SELECT CAST(p_size AS BIGINT) AS p_size,
        |    CAST(floor(p_retailprice*100 + 0.5) AS BIGINT) AS price_cents
        |  FROM part
        |)
        |SELECT DISTINCT p_size, price_cents FROM t a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM t b
        |  WHERE b.p_size >= a.p_size AND b.price_cents >= a.price_cents
        |    AND (b.p_size > a.p_size OR b.price_cents > a.price_cents))""".stripMargin),
    Query("join_size_sketch") { (s, dir) =>
      // The general two-table form of selfjoin_size_sketch:
      // |lineitem JOIN orders| estimated from two INDEPENDENTLY built
      // 5x256 sketches (AMS product median, CMS inner-product min) next
      // to the exact inner product — the fact-fact join sized before
      // the shuffle, from sketches that never saw each other's data.
      // Measured at sf0.1 (150k distinct keys): AMS lands within ~2x;
      // CMS reads 586x over — its additive nA*nB/w term needs w scaled
      // to the key cardinality, which at 256 it is not. Same estimator-
      // selection lesson as the self-join face, at the cardinality that
      // breaks CMS completely (ops/HeavyHitters.scala).
      graft.ops.HeavyHitters.joinSizeSketch(
        table(s, dir, "lineitem"), "l_orderkey",
        table(s, dir, "orders"), "o_orderkey")
    }.oracle(
      """WITH fa AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1
        |), fb AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1
        |), ex AS (
        |  SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM fa) AS n_keys_a,
        |    (SELECT CAST(count(*) AS BIGINT) FROM fb) AS n_keys_b,
        |    (SELECT CAST(coalesce(sum(fa.c * fb.c), 0) AS BIGINT)
        |     FROM fa JOIN fb USING (k)) AS join_exact
        |), ca AS (
        |  SELECT j.j AS j,
        |    CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || '-' || k), 1, 8)) AS BIGINT) % 256 AS bucket,
        |    CAST(sum(c) AS BIGINT) AS cnt
        |  FROM fa, range(5) j(j) GROUP BY 1, 2
        |), cb AS (
        |  SELECT j.j AS j,
        |    CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || '-' || k), 1, 8)) AS BIGINT) % 256 AS bucket,
        |    CAST(sum(c) AS BIGINT) AS cnt
        |  FROM fb, range(5) j(j) GROUP BY 1, 2
        |), cip AS (
        |  SELECT ca.j, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS ip
        |  FROM ca JOIN cb ON cb.j = ca.j AND cb.bucket = ca.bucket GROUP BY 1
        |), cmse AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM cip),
        |aa AS (
        |  SELECT j.j AS j, CAST(sum(
        |    ((CAST(('0x' || substr(md5('s' || CAST(j.j AS VARCHAR) || '-' || k), 1, 8)) AS BIGINT) & 1) * 2 - 1) * c
        |  ) AS BIGINT) AS s
        |  FROM fa, range(5) j(j) GROUP BY 1
        |), ab AS (
        |  SELECT j.j AS j, CAST(sum(
        |    ((CAST(('0x' || substr(md5('s' || CAST(j.j AS VARCHAR) || '-' || k), 1, 8)) AS BIGINT) & 1) * 2 - 1) * c
        |  ) AS BIGINT) AS s
        |  FROM fb, range(5) j(j) GROUP BY 1
        |), amse AS (
        |  SELECT CAST((list_sort(list(aa.s * ab.s)))[3] AS BIGINT) AS ams_est
        |  FROM aa JOIN ab ON ab.j = aa.j
        |)
        |SELECT n_keys_a, n_keys_b, join_exact, cms_est, ams_est,
        |  CAST((abs(cms_est - join_exact) * 20000 + join_exact) // (2 * greatest(join_exact, 1)) AS BIGINT) AS cms_err_bps,
        |  CAST((abs(ams_est - join_exact) * 20000 + join_exact) // (2 * greatest(join_exact, 1)) AS BIGINT) AS ams_err_bps
        |FROM ex, cmse, amse""".stripMargin),
    Query("value_outliers") { (s, dir) =>
      // Robust outlier screen: |price − median| > 5·MAD per returnflag,
      // exact counts + basis points; median/MAD by order selection, the
      // summary broadcast back over the data (ops/Robust.scala).
      graft.ops.Robust.madOutliers(
        table(s, dir, "lineitem")
          .select(col("l_returnflag"), cents(col("l_extendedprice")).as("cents")),
        "l_returnflag",
        "cents",
        k = 5)
    }.oracle(
      s"""WITH $MadRankCtes
        |), mm AS (
        |  SELECT g, max(n) AS n, max(med) AS med, max(dev) AS mad
        |  FROM r2 WHERE rn = (n + 1) // 2 GROUP BY g
        |)
        |SELECT v.g AS l_returnflag, max(mm.n) AS n, max(mm.med) AS med, max(mm.mad) AS mad,
        |  CAST(sum(CASE WHEN abs(v.v - mm.med) > 5 * mm.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  (CAST(sum(CASE WHEN abs(v.v - mm.med) > 5 * mm.mad THEN 1 ELSE 0 END) AS BIGINT) * 10000)
        |    // max(mm.n) AS outlier_bps
        |FROM v JOIN mm ON v.g = mm.g GROUP BY v.g""".stripMargin),
    Query("k_anonymity_report") { (s, dir) =>
      // Re-identification risk audit on the customer quasi-identifiers
      // (nation, market segment): groups below k=5, the rows needing
      // suppression, and the dataset's actual anonymity level
      // (ops/Integrity.scala).
      graft.ops.Integrity.kAnonymity(
        table(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), 5L)
    }.oracle(
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2
        |), a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_suppressed_rows,
        |    CAST(min(n) AS BIGINT) AS anonymity_level
        |  FROM g
        |)
        |SELECT 'c_nationkey,c_mktsegment' AS quasi_identifiers, CAST(5 AS BIGINT) AS k,
        |  n_groups, n_violating_groups, n_rows, n_suppressed_rows, anonymity_level,
        |  CAST((20000 * n_suppressed_rows + n_rows) // (2 * n_rows) AS BIGINT)
        |    AS suppressed_bps
        |FROM a""".stripMargin),
    Query("l_diversity_report") { (s, dir) =>
      // The homogeneity-attack follow-up to k-anonymity: a QI group can
      // satisfy k and still leak if everyone in it shares one sensitive
      // value. Distinct balance-bands per (nation, segment) group,
      // groups below l=3 and the rows they expose (ops/Integrity.scala).
      graft.ops.Integrity.lDiversity(
        table(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long"), "acctbal_band_1000", 3L)
    }.oracle(
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT) AS nd
        |  FROM customer GROUP BY 1, 2
        |), a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(CASE WHEN nd < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN nd < 3 THEN n ELSE 0 END) AS BIGINT) AS n_exposed_rows,
        |    CAST(min(nd) AS BIGINT) AS diversity_level
        |  FROM g
        |)
        |SELECT 'c_nationkey,c_mktsegment' AS quasi_identifiers,
        |  'acctbal_band_1000' AS sensitive, CAST(3 AS BIGINT) AS l,
        |  n_groups, n_violating_groups, n_rows, n_exposed_rows, diversity_level,
        |  CAST((20000 * n_exposed_rows + n_rows) // (2 * n_rows) AS BIGINT) AS exposed_bps
        |FROM a""".stripMargin),
    Query("t_closeness_report") { (s, dir) =>
      // The distributional member of the release triad: per-group EMD of
      // the banded-balance distribution vs the table's, exact rationals
      // on the ordered band scale; groups with EMD > 0.15 are skew leaks
      // a diverse group can still carry (ops/Integrity.scala).
      graft.ops.Integrity.tCloseness(
        table(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long"), tMicro = 150000L)
    }.oracle(
      """WITH base AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
        |    CAST(count(*) AS HUGEINT) AS c_gb
        |  FROM customer GROUP BY 1, 2, 3
        |), gtab AS (SELECT band, sum(c_gb) AS c_b FROM base GROUP BY 1),
        |grp AS (SELECT c_nationkey, c_mktsegment, sum(c_gb) AS n_g FROM base GROUP BY 1, 2),
        |tot AS (SELECT sum(c_b) AS n, CAST(count(*) AS HUGEINT) AS m FROM gtab),
        |grid AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, gl.band, g.n_g, t.n, t.m,
        |    coalesce(b.c_gb, 0) * t.n - gl.c_b * g.n_g AS dev
        |  FROM grp g CROSS JOIN gtab gl CROSS JOIN tot t
        |  LEFT JOIN base b ON b.c_nationkey = g.c_nationkey
        |    AND b.c_mktsegment = g.c_mktsegment AND b.band = gl.band
        |), cum AS (
        |  SELECT c_nationkey, c_mktsegment, n_g, n, m,
        |    sum(dev) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY band) AS cumdev
        |  FROM grid
        |), pg AS (
        |  SELECT c_nationkey, c_mktsegment, max(n_g) AS n_g,
        |    CASE WHEN max(m) > 1 THEN
        |      (2 * 1000000 * sum(abs(cumdev)) + (max(m) - 1) * max(n_g) * max(n))
        |        // (2 * (max(m) - 1) * max(n_g) * max(n))
        |    ELSE 0 END AS emd_micro
        |  FROM cum GROUP BY 1, 2
        |)
        |SELECT 'c_nationkey,c_mktsegment' AS quasi_identifiers,
        |  CAST(150000 AS BIGINT) AS t_micro,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN emd_micro > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        |  CAST(sum(n_g) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN emd_micro > 150000 THEN n_g ELSE 0 END) AS BIGINT) AS n_exposed_rows,
        |  CAST(max(emd_micro) AS BIGINT) AS max_emd_micro
        |FROM pg""".stripMargin)
  )
}
