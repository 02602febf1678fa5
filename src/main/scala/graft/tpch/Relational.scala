package graft.tpch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational coverage over the TPC-H-ish star schema — the join / sort /
  * top-k / distinct / semi-join surface the reference lacks (SURVEY §2.3)
  * but any real engine user needs.
  *
  * Scale conventions:
  *   - dimension tables (`region`/`nation`/`part`/`supplier`/`customer`) are
  *     broadcast explicitly — fact-table joins never shuffle the fact side
  *     on a dim key;
  *   - aggregates run on integer cents (exact; see SparkEntry);
  *   - top-k uses rank-with-tie-break so results are deterministic.
  */
object Relational {

  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100 + 0.5).cast("long")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** TPC-H Q3-style: top 10 highest-revenue BUILDING-segment orders with
    * shipping still pending at the cutoff.
    */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp")
    val cust = table(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val orders = table(spark, dir, "orders").filter(col("o_orderdate") < cutoff)
    val li = table(spark, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
      .select(
        col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        col("revenue_cents")
      )
      .orderBy(col("revenue_cents").desc, col("o_orderkey"))
      .limit(10)
  }

  /** [[q3TopOrders]] over BUCKETED fact tables — the co-located-join layout
    * ([[graft.sinks.BucketedSink]]) surfaced in the driver-verified query
    * set: lineitem and orders are written once per scale factor as managed
    * tables bucketed 8-ways on the order key, so the fact-fact join plans
    * as a SortMergeJoin with NO Exchange on either side (the shuffle was
    * paid at write time and amortizes over every subsequent query on the
    * key). Results are identical to the plain form — same oracle. Each
    * copy is named by its source table's
    * [[graft.registry.Shared.contentKey]], so a table regenerated in place
    * gets a new copy.
    */
  def q3TopOrdersBucketed(spark: SparkSession, dir: String): DataFrame = {
    def ensureBucketed(prefix: String, srcTable: String, bucketCol: String): String = {
      val name = prefix + graft.registry.Shared.contentKey(spark, dir, srcTable)
      if (!spark.catalog.tableExists(name)) {
        // The in-memory catalog resets per JVM while the warehouse dir
        // persists. A previous JVM's derived table is still valid data —
        // re-REGISTER it as an external bucketed table (same bucket spec,
        // Spark maps files to buckets by name) instead of re-deriving:
        // the write-time shuffle is paid once per scale factor, ever.
        // Registration is gated on the layout actually being a COMPLETE
        // 8-bucket write: a partial/crashed write, or files from a different
        // bucket count, registered as-is would make the exchange-free SMJ
        // silently return wrong results.
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), name)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def validBucketLayout: Boolean =
          fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")) && {
            // Spark bucketed files carry the bucket id as `_NNNNN` before
            // the first extension dot: part-<task>-<uuid>_00003.c000.parquet.
            val bucketId = ".*_(\\d{5})\\..*".r
            val dataFiles = fs.listStatus(loc).toSeq
              .filter(_.isFile)
              .map(_.getPath.getName)
              .filterNot(n => n.startsWith("_") || n.startsWith("."))
            dataFiles.nonEmpty && dataFiles.forall {
              case bucketId(id) => id.toInt >= 0 && id.toInt < 8
              case _ => false
            }
          }
        if (fs.exists(loc) && validBucketLayout) {
          val schemaDDL = table(spark, dir, srcTable).schema.toDDL
          spark.sql(
            s"""CREATE TABLE $name ($schemaDDL) USING parquet
               |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO 8 BUCKETS
               |LOCATION '${loc.toString}'""".stripMargin)
        } else {
          if (fs.exists(loc)) fs.delete(loc, true)
          graft.sinks.BucketedSink.writeBucketed(
            table(spark, dir, srcTable), name, bucketCol, buckets = 8)
        }
      }
      name
    }
    val liName = ensureBucketed("graft_bl_", "lineitem", "l_orderkey")
    val ordName = ensureBucketed("graft_bo_", "orders", "o_orderkey")
    val cutoff = lit("1998-06-01").cast("timestamp")
    val cust = table(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val orders = spark.table(ordName).filter(col("o_orderdate") < cutoff)
    val li = spark.table(liName).filter(col("l_shipdate") > cutoff)
    // merge hint: at bench SF the orders side fits the broadcast threshold,
    // which would hide the layout's point — at real scale both facts exceed
    // it and SMJ-over-buckets (no exchange either side) IS the chosen plan.
    li.hint("merge").join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
      .select(
        col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        col("revenue_cents")
      )
      .orderBy(col("revenue_cents").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: revenue by nation for one region, suppliers co-located
    * with customers.
    */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = table(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = table(spark, dir, "nation")
    val cust = table(spark, dir, "customer")
    val supp = table(spark, dir, "supplier")
    val orders = table(spark, dir, "orders")
    val li = table(spark, dir, "lineitem")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
  }

  /** Broadcast fact-dim join + group: per-brand part consumption. */
  def partBrandStats(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val part = table(spark, dir, "part")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_lines")
      )
  }

  /** Left-semi join (EXISTS): order counts by priority, restricted to orders
    * with at least one returned line.
    */
  def returnedOrderPriorities(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    val returned = table(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    orders
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Per-nation top-3 customers by account balance (analytic rank over a
    * broadcast dim join; custkey tie-break).
    */
  def topCustomersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val nation = table(spark, dir, "nation")
    val w = Window
      .partitionBy(col("n_name"))
      .orderBy(cents(col("c_acctbal")).desc, col("c_custkey"))
    cust
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(
        col("n_name"),
        col("c_custkey"),
        col("c_name"),
        cents(col("c_acctbal")).as("acctbal_cents"),
        col("rank")
      )
  }

  /** TPC-H Q7-style: shipping volume between two nations by direction and
    * ship year (two dim roles for one table — nation joins twice).
    */
  def q7NationVolume(spark: SparkSession, dir: String, n1: String = "NATION_18", n2: String = "NATION_19"): DataFrame = {
    val nation = table(spark, dir, "nation")
    val suppNation = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val custNation = nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .join(broadcast(custNation), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === n1 && col("cust_nation") === n2) ||
          (col("supp_nation") === n2 && col("cust_nation") === n1)
      )
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
  }

  /** TPC-H Q10-style: top-20 customers by returned-item revenue. */
  def q10ReturnedRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q14-style: promo revenue share by ship month — conditional
    * aggregation over a broadcast dim join; share in basis points (integer
    * exact, no float division in the compare).
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .otherwise(0L)).as("promo_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("total_cents")
      )
      .select(
        unix_millis(col("ship_month").cast("timestamp")).as("ship_month_ms"),
        col("promo_cents"),
        col("total_cents"),
        // floor (not cast) — cast-from-double rounds in DuckDB but truncates
        // in Spark; floor agrees in both engines
        floor(col("promo_cents") * 10000L / col("total_cents")).cast("long").as("promo_bps")
      )

  /** TPC-H Q19-style: disjunctive brand/size/quantity predicates — the
    * optimizer must push a complex OR through a broadcast join.
    */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity") >= 1 && col("l_quantity") <= 20) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) && col("l_quantity") >= 5 && col("l_quantity") <= 35) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) && col("l_quantity") >= 10 && col("l_quantity") <= 50)
      )
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
        count(lit(1)).as("n_lines")
      )

  /** Sketch-based profile. At 100 TB the exact [[lineitemProfile]]
    * shuffles every distinct key; this form ships bounded state through
    * the exchange instead — and, unlike `approx_count_distinct` /
    * `approx_percentile` (engine-private HLL++/KLL internals), every
    * output here is integer-exact and replayable in SQL, so the whole
    * APPROXIMATE profile sits under the full hash oracle:
    *
    *  - distinct counts: the engine's own portable HLL
    *    ([[graft.ops.HeavyHitters]]) at m = 4096 registers (std err
    *    ≈ 1.6%), both keys sketched in ONE scan via a (key, item)
    *    explode — per key ≤ m registers cross the exchange;
    *  - median: a dollar-resolution histogram — the cumulative window
    *    runs over the price-domain-bounded bucket frame (≤ ~10⁵ rows at
    *    any corpus size), never the fact table, and the answer is the
    *    smallest bucket whose running count reaches ⌈n/2⌉.
    */
  def lineitemProfileApprox(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hllM = 4096
    val li = table(spark, dir, "lineitem")
    val items = li
      .select(
        explode(array(
          struct(lit("orders").as("k"), col("l_orderkey").cast("string").as("item")),
          struct(lit("parts").as("k"), col("l_partkey").cast("string").as("item"))
        )).as("e"))
      .select(col("e.k").as("k"), col("e.item").as("item"))
    val est = graft.ops.HeavyHitters.hllEstimateBy(
      graft.ops.HeavyHitters.hllRegistersBy(items, "item", "k", m = hllM), "k", m = hllM)
    val hll = est.agg(
      max(when(col("k") === "orders", col("est_micro"))).as("n_orders_est_micro"),
      max(when(col("k") === "parts", col("est_micro"))).as("n_parts_est_micro"))
    // bucket frame is dollar-bounded; checkpoint once so the cum/total
    // legs re-read it instead of rescanning lineitem, and the cumulative
    // rides the distributed prefix-sum primitive (no unpartitioned window)
    val buckets = li
      .select(cents(col("l_extendedprice")).as("c"))
      .select(expr("c div 100").as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val med = graft.ops.Ranking
      .runningTotals(buckets, Seq(col("b").asc), Seq("cnt"))
      .crossJoin(broadcast(buckets.agg(sum(col("cnt")).as("total"))))
      .agg(
        max(col("total")).as("n_rows"),
        min(when(col("cum_cnt") >= expr("(total + 1) div 2"), col("b"))).as("p50_price_dollars"))
    hll.crossJoin(med).select(
      col("n_rows"),
      col("n_orders_est_micro"),
      col("n_parts_est_micro"),
      col("p50_price_dollars"))
  }

  /** Global distinct/minmax profile of the fact table (no grouping key —
    * exercises partial-agg + single-row final).
    */
  def lineitemProfile(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_partkey")).as("n_parts"),
      min(unix_millis(col("l_shipdate").cast("timestamp"))).as("min_ship_ms"),
      max(unix_millis(col("l_shipdate").cast("timestamp"))).as("max_ship_ms"),
      sum(cents(col("l_extendedprice"))).as("sum_price_cents")
    )

  /** Market-segment profile with exact distinct nation counts. */
  def segmentStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        sum(cents(col("c_acctbal"))).as("sum_acctbal_cents")
      )

  // ------------------------------------------------------- round-3 additions

  /** TPC-H Q6-style: pure filter + global aggregate over the fact table —
    * the canonical pushdown showcase. Every predicate reaches the parquet
    * scan (`PushedFilters` covers shipdate range, discount band, quantity
    * cap); the plan is scan → partial agg → single-row final, zero joins,
    * one exchange carrying one row per partition.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24
      )
      .agg(
        sum(cents(col("l_extendedprice") * col("l_discount"))).as("discount_cents"),
        count(lit(1)).as("n_lines")
      )

  /** TPC-H Q4-style: order counts by priority for orders with at least one
    * line shipped more than 60 days after the order date (EXISTS → left-semi
    * join; the date arithmetic rides the join condition, so the semi join
    * stays a plain hash join on the order key).
    */
  def q4LateShipments(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
      .filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")
      )
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    orders
      .join(
        li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi"
      )
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** TPC-H Q8-style market share: of all ASIA-customer revenue per order
    * year, the slice supplied by one nation. Share reported in integer basis
    * points (floor), numerator/denominator as exact cents — no float compare
    * crosses the engine boundary. Nation joins twice (supplier role feeds
    * the numerator flag, customer role the region gate), both broadcast.
    */
  def q8MarketShare(spark: SparkSession, dir: String, nation: String = "NATION_18"): DataFrame = {
    val nat = table(spark, dir, "nation")
    val suppNation = nat.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val custNation = nat.select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val region = table(spark, dir, "region").filter(col("r_name") === "ASIA")
    table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("c_nk"))
      .join(broadcast(region), col("c_rk") === col("r_regionkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === nation,
          cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).otherwise(0L))
          .as("nation_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("total_cents")
      )
      .select(
        col("o_year"),
        col("nation_cents"),
        col("total_cents"),
        floor(col("nation_cents") * 10000L / col("total_cents")).cast("long").as("share_bps")
      )
  }

  /** TPC-H Q13-style: distribution of per-customer order counts (customers
    * with zero orders included via the left outer join). Two aggregations:
    * count per customer, then the histogram over those counts — the second
    * groupBy runs on customer-cardinality data, already tiny.
    */
  def q13OrderCountDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCustomer = table(spark, dir, "customer")
      .join(
        table(spark, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"),
        "left_outer"
      )
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCustomer
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q15-style: supplier(s) with the maximum half-year revenue. The
    * scalar max is an aggregate of the (supplier-cardinality) revenue frame,
    * broadcast back as a one-row join — Catalyst plans it without
    * recomputing revenue per comparison row.
    */
  def q15TopSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val revenue = table(spark, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-07-01").cast("timestamp")
      )
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("total_revenue_cents"))
    val maxRev = revenue.agg(max(col("total_revenue_cents")).as("max_rev"))
    revenue
      .join(broadcast(maxRev), col("total_revenue_cents") === col("max_rev"))
      .join(broadcast(table(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_cents"))
  }

  /** TPC-H Q17-style: revenue from lines ordering less than half the part's
    * average quantity. The per-part average is a window over the SAME
    * scan-side frame (no self-join re-scan); quantities are integer-valued
    * doubles, so the average is exact and order-independent in both engines.
    */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
    table(spark, dir, "lineitem")
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(
        sum(cents(col("l_extendedprice"))).as("revenue_cents"),
        count(lit(1)).as("n_lines")
      )
  }

  /** TPC-H Q18-style: large orders (total quantity > 250) with customer,
    * ranked by value. The HAVING filter runs on the aggregated (order-
    * cardinality) frame before the joins — at scale only qualifying orders
    * join back to customers.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    table(spark, dir, "orders")
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(table(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        cents(col("o_totalprice")).as("totalprice_cents"),
        col("sum_qty")
      )
      .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q22-style: per-nation count and balance of "rich lapsed"
    * customers — above-average account balance, no order since 2000-01-01.
    * The average gate compares `acctbal_cents * n_customers > total_cents`
    * (all exact integers — no float division crosses the engine boundary);
    * the no-recent-order gate is a left-anti join against the filtered
    * orders (the date predicate pushes to the orders scan, shrinking the
    * anti-join build side before the shuffle).
    */
  def q22InactiveRich(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val stats = cust
      .filter(col("c_acctbal") > 0.0)
      .agg(
        sum(cents(col("c_acctbal"))).as("total_cents"),
        count(lit(1)).as("n_pos")
      )
    val recent = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust
      .join(broadcast(stats), cents(col("c_acctbal")) * col("n_pos") > col("total_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(cents(col("c_acctbal"))).as("sum_acctbal_cents")
      )
  }
}
