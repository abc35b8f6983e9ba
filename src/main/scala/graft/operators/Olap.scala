package graft.operators

import graft.{Det, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OLAP surface widening (round 2): CUBE grouping sets, FULL OUTER and
  * INTERSECT set algebra, value-bucket histograms, and a second
  * deployment of the custom TopKPerKey operator on the commerce star —
  * the remaining relational shapes the reference's PDF §12.2 roadmap
  * implies (multi-dimensional summaries, cross-entity reconciliation)
  * that round 1 did not yet register as named queries.
  *
  * Scale notes:
  *  - CUBE multiplies each input row by the number of grouping sets
  *    (4 here) AFTER partial aggregation — the Expand sits above a
  *    per-partition pre-aggregate, so shuffle volume is ~4× the distinct
  *    group count, not 4× the fact table.
  *  - the full-outer join runs on two post-aggregate frames (≤ nation
  *    cardinality) — broadcast-sized by construction.
  *  - the histogram buckets in-row (pure arithmetic, codegen'd) and only
  *    then aggregates: one shuffle of bucket-count partials.
  */
object Olap {

  /** Revenue cube over (order status, order priority): every grouping
    * set — (status, priority), (status), (priority), () — in one pass.
    * NULL grouping cells are folded to 'ALL' so the output schema is
    * engine-portable (DuckDB renders cube nulls identically, but
    * explicit labels keep the hash-compare unambiguous).
    */
  def revenueCube(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .orders(spark, dir)
      // genuine NULL attribute values are bucketed as '<null>' BEFORE
      // the cube, so the 'ALL' coalesce below can only ever mean
      // "subtotal" — otherwise a NULL data group and a subtotal row
      // collide on the same key and their relative order is
      // engine-dependent (null_sweep-found hazard)
      .withColumn("o_orderstatus", coalesce(col("o_orderstatus"), lit("<null>")))
      .withColumn("o_orderpriority", coalesce(col("o_orderpriority"), lit("<null>")))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        Det.detRound(Det.moneySum(col("o_totalprice")), 2).as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"),
        col("revenue"))
      .orderBy(col("status"), col("priority"))
  }

  private val revenueCubeSql =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |       COALESCE(o_orderpriority, 'ALL') AS priority,
       |       count(*) AS n_orders,
       |       ${Det.roundSql("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS revenue
       |FROM (SELECT COALESCE(o_orderstatus, '<null>') AS o_orderstatus,
       |             COALESCE(o_orderpriority, '<null>') AS o_orderpriority,
       |             o_totalprice
       |      FROM orders)
       |GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin

  /** Sparse multi-level rollup via explicit GROUPING SETS — the shape
    * CUBE can't express: (status, priority), (status) and the grand
    * total, but NOT the (priority)-only slice (pruning unwanted sets is
    * the point of the API: each omitted set is an aggregation pass the
    * engine never runs). Same one-pass Expand execution as cube/rollup;
    * 'ALL' folding keeps cells unambiguous because the kept sets form a
    * chain.
    */
  def revenueGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      // same '<null>' input bucketing as revenueCube: 'ALL' must only
      // ever mean "subtotal"
      .withColumn("o_orderstatus", coalesce(col("o_orderstatus"), lit("<null>")))
      .withColumn("o_orderpriority", coalesce(col("o_orderpriority"), lit("<null>")))
    o.groupingSets(
        Seq(
          Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")),
          Seq.empty[org.apache.spark.sql.Column]),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        Det.detRound(Det.moneySum(col("o_totalprice")), 2).as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"),
        col("revenue"))
      .orderBy(col("status"), col("priority"))
  }

  private val revenueGroupingSetsSql =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |       COALESCE(o_orderpriority, 'ALL') AS priority,
       |       count(*) AS n_orders,
       |       ${Det.roundSql("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS revenue
       |FROM (SELECT COALESCE(o_orderstatus, '<null>') AS o_orderstatus,
       |             COALESCE(o_orderpriority, '<null>') AS o_orderpriority,
       |             o_totalprice
       |      FROM orders)
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
       |ORDER BY status, priority""".stripMargin

  /** Order-value histogram: 20k-wide buckets of o_totalprice with count,
    * revenue, bucket bounds, and share-of-orders. The share window runs
    * over the post-aggregate frame (≤ dozens of buckets), not the fact
    * table.
    */
  def orderSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables
      .orders(spark, dir)
      .select((floor(col("o_totalprice") / 20000.0) * 20000).cast("long").as("bucket_lo"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn(
        "share",
        Det.detRound(
          col("n_orders").cast("double") / sum(col("n_orders")).over(Window.partitionBy()),
          6))
      .orderBy(col("bucket_lo"))
  }

  private val orderSizeHistogramSql =
    s"""SELECT CAST(FLOOR(o_totalprice / 20000.0) * 20000 AS BIGINT) AS bucket_lo,
       |       count(*) AS n_orders,
       |       ${Det.roundSql("CAST(count(*) AS DOUBLE) / SUM(count(*)) OVER ()", 6)} AS share
       |FROM orders
       |GROUP BY 1
       |ORDER BY bucket_lo""".stripMargin

  /** Per-nation reconciliation of the customer ledger vs the supplier
    * ledger — FULL OUTER join of two aggregates so nations present on
    * only one side survive with zeroed counts. Customer side restricted
    * to the BUILDING market segment so the two sides genuinely differ.
    */
  def nationBalanceFulljoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables
      .customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        Det.detRound(Det.moneySum(col("c_acctbal")), 2).as("cust_bal"))
    val supp = Tables
      .supplier(spark, dir)
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        Det.detRound(Det.moneySum(col("s_acctbal")), 2).as("supp_bal"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    cust
      .join(supp, cust("c_nationkey") === supp("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"))
      .join(broadcast(n), col("nationkey") === n("n_nationkey"))
      .select(
        col("nationkey"), col("n_name"),
        col("n_customers"), col("cust_bal"),
        col("n_suppliers"), col("supp_bal"))
      .orderBy(col("nationkey"))
  }

  private val nationBalanceFulljoinSql =
    s"""WITH cust AS (
       |  SELECT c_nationkey,
       |         count(*) AS n_customers,
       |         ${Det.roundSql("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS cust_bal
       |  FROM customer WHERE c_mktsegment = 'BUILDING'
       |  GROUP BY c_nationkey
       |), supp AS (
       |  SELECT s_nationkey,
       |         count(*) AS n_suppliers,
       |         ${Det.roundSql("CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS supp_bal
       |  FROM supplier
       |  GROUP BY s_nationkey
       |)
       |SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
       |       n.n_name,
       |       COALESCE(c.n_customers, 0) AS n_customers,
       |       COALESCE(c.cust_bal, 0.0) AS cust_bal,
       |       COALESCE(s.n_suppliers, 0) AS n_suppliers,
       |       COALESCE(s.supp_bal, 0.0) AS supp_bal
       |FROM cust c FULL OUTER JOIN supp s ON c.c_nationkey = s.s_nationkey
       |JOIN nation n ON COALESCE(c.c_nationkey, s.s_nationkey) = n.n_nationkey
       |ORDER BY nationkey""".stripMargin

  /** Users active on BOTH channels — INTERSECT of order custkeys and
    * event user_ids (the dual of customers_without_sessions' EXCEPT).
    * Spark plans INTERSECT DISTINCT as a left-semi join over distincts.
    */
  def buyersWithSessions(spark: SparkSession, dir: String): DataFrame = {
    val buyers = Tables.orders(spark, dir).select(col("o_custkey").as("user_id")).distinct()
    val active = Tables.events(spark, dir).select(col("user_id")).distinct()
    buyers.intersect(active).orderBy(col("user_id"))
  }

  private val buyersWithSessionsSql =
    """SELECT * FROM (
      |  SELECT DISTINCT o_custkey AS user_id FROM orders
      |  INTERSECT
      |  SELECT DISTINCT user_id FROM events
      |) ORDER BY user_id""".stripMargin

  /** Top-5 revenue parts per brand through the custom TopKPerKey
    * operator (bounded per-key heaps — no partition sort, no window
    * buffer; see org.apache.spark.sql.graft.TopKPerKey). Second
    * deployment of the operator, on the commerce star rather than the
    * event log; oracle is the equivalent row_number window query.
    */
  def topPartsPerBrand(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    val perPart = li
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(
        Det.detRound(
          Det.fineSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    org.apache.spark.sql.graft.TopK
      .perKey(
        perPart,
        Seq("p_brand"),
        Seq("revenue" -> false, "p_partkey" -> true),
        k = 5,
        rankName = "rn")
      .orderBy(col("p_brand"), col("rn"))
  }

  private val topPartsPerBrandSql =
    s"""WITH per_part AS (
       |  SELECT p.p_brand, p.p_partkey,
       |         ${Det.roundSql("CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(30,10))) AS DOUBLE)", 2)} AS revenue
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  GROUP BY p.p_brand, p.p_partkey
       |)
       |SELECT p_brand, p_partkey, revenue, rn FROM (
       |  SELECT p_brand, p_partkey, revenue,
       |         row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rn
       |  FROM per_part
       |) WHERE rn <= 5
       |ORDER BY p_brand, rn""".stripMargin

  /** Cart-contents map parity (reference: sessions.cart_contents —
    * map<product_id, {quantity, price}>, data_generator.py:279–284):
    * per-order cart built as a real MapType column
    * (map_from_entries of per-part quantity/spend structs), then
    * consumed with map_keys/map_values + a higher-order aggregate —
    * exercising the map build→access→fold surface end to end. The
    * emitted measures have a map-free SQL twin, so the whole MapType
    * path is oracle-checked. Top 100 carts by distinct items.
    */
  def cartContentsMap(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def perPart(src: DataFrame): DataFrame = src
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(
        sum(col("l_quantity").cast(Det.Money)).as("qty"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(Det.Fine))
          .as("spend"))
    // Pre-rank with the cheap scalar aggregate — the ranking keys are
    // the SAME expressions the final output emits (rounded spend double)
    // so the top-100 boundary is identical. Only (orderkey, count, sums)
    // ever shuffle here; whole carts never do. TakeOrderedAndProject
    // keeps 100 rows per partition → 100 global. The ranking pass needs
    // only the spend partial — qty is dropped from it (one fewer
    // DECIMAL aggregate over the fact-sized group set; qty is computed
    // only for the 100 surviving carts in the second pass).
    // scan-fan (guide §2.5): no-collapse (order, part) pre-aggregate,
    // the product_popularity case — serial on a single-split source
    val top = graft.Scans
      .fanSmall(spark, li, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(Det.Fine))
          .as("spend"))
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("cart_distinct_items"),
        Det.detRound(sum(col("spend")).cast("double"), 2).as("cart_total_spend"))
      .orderBy(desc("cart_distinct_items"), desc("cart_total_spend"), asc("l_orderkey"))
      .limit(100)
      .select(col("l_orderkey"))
    // Survivors only: broadcast the 100 keys back onto the scan (a
    // map-side semi-filter — at 100 TB this is a second lineitem scan,
    // not a second lineitem shuffle), then build the real MapType cart
    // and derive the emitted measures from the map itself so the
    // build→access→fold surface stays oracle-checked end to end.
    val carts = perPart(li.join(broadcast(top), Seq("l_orderkey"), "left_semi"))
      .groupBy(col("l_orderkey"))
      .agg(
        map_from_entries(
          sort_array(collect_list(struct(col("l_partkey"), struct(col("qty"), col("spend"))))))
          .as("cart"))
    carts
      .select(
        col("l_orderkey"),
        size(map_keys(col("cart"))).cast("long").as("cart_distinct_items"),
        expr("CAST(aggregate(map_values(cart), CAST(0 AS DECIMAL(18,2)), (a, v) -> CAST(a + v.qty AS DECIMAL(18,2))) AS DOUBLE)")
          .as("cart_total_qty"),
        Det.detRound(
          expr("CAST(aggregate(map_values(cart), CAST(0 AS DECIMAL(30,10)), (a, v) -> CAST(a + v.spend AS DECIMAL(30,10))) AS DOUBLE)"),
          2).as("cart_total_spend"))
      .orderBy(desc("cart_distinct_items"), desc("cart_total_spend"), asc("l_orderkey"))
      .limit(100)
  }

  private val cartContentsMapSql =
    s"""WITH per_part AS (
       |  SELECT l_orderkey, l_partkey,
       |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
       |         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))) AS spend
       |  FROM lineitem
       |  GROUP BY l_orderkey, l_partkey
       |)
       |SELECT l_orderkey,
       |       count(*) AS cart_distinct_items,
       |       CAST(SUM(qty) AS DOUBLE) AS cart_total_qty,
       |       ${Det.roundSql("CAST(SUM(spend) AS DOUBLE)", 2)} AS cart_total_spend
       |FROM per_part
       |GROUP BY l_orderkey
       |ORDER BY cart_distinct_items DESC, cart_total_spend DESC, l_orderkey
       |LIMIT 100""".stripMargin

  /** Category-hierarchy parsing (reference analog: category →
    * subcategory tree, data_generator.py:133–148): `p_type` is a
    * 3-token hierarchy string ("STANDARD ANODIZED TIN") split into
    * levels and rolled up with explicit grouping labels — the
    * string-parse + hierarchy-aggregate shape.
    */
  def partTypeHierarchy(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .part(spark, dir)
      .select(
        // get() is the null-safe subscript (ANSI mode throws on
        // out-of-range getItem; single-token types yield null l2,
        // matching DuckDB's out-of-range list index)
        expr("get(split(p_type, ' '), 0)").as("l1"),
        expr("get(split(p_type, ' '), 1)").as("l2"),
        col("p_retailprice"))
      .rollup(col("l1"), col("l2"))
      .agg(
        count(lit(1)).as("n_parts"),
        Det.detRound(Det.moneySum(col("p_retailprice")), 2).as("retail_value"))
      .select(
        coalesce(col("l1"), lit("ALL")).as("l1"),
        coalesce(col("l2"), lit("ALL")).as("l2"),
        col("n_parts"),
        col("retail_value"))
      .orderBy(col("l1"), col("l2"))
  }

  private val partTypeHierarchySql =
    s"""WITH levels AS (
       |  SELECT string_split(p_type, ' ')[1] AS l1,
       |         string_split(p_type, ' ')[2] AS l2,
       |         p_retailprice
       |  FROM part
       |)
       |SELECT COALESCE(l1, 'ALL') AS l1,
       |       COALESCE(l2, 'ALL') AS l2,
       |       count(*) AS n_parts,
       |       ${Det.roundSql("CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS retail_value
       |FROM levels
       |GROUP BY ROLLUP (l1, l2)
       |ORDER BY l1, l2""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "part_type_hierarchy"    -> QueryDef(partTypeHierarchy, Some(partTypeHierarchySql)),
    "cart_contents_map"      -> QueryDef(cartContentsMap, Some(cartContentsMapSql)),
    "revenue_cube"           -> QueryDef(revenueCube, Some(revenueCubeSql)),
    "revenue_grouping_sets"  -> QueryDef(revenueGroupingSets, Some(revenueGroupingSetsSql)),
    "order_size_histogram"   -> QueryDef(orderSizeHistogram, Some(orderSizeHistogramSql)),
    "nation_balance_fulljoin" -> QueryDef(nationBalanceFulljoin, Some(nationBalanceFulljoinSql)),
    "buyers_with_sessions"   -> QueryDef(buyersWithSessions, Some(buyersWithSessionsSql)),
    "top_parts_per_brand"    -> QueryDef(topPartsPerBrand, Some(topPartsPerBrandSql)))
}
