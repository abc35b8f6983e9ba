package graft.operators

import graft.{Det, QueryDef, Tables}
import graft.Ckpt.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E-commerce batch analytics: the reference's Spark + MongoDB query
  * surface re-expressed over the driver's TPC-H-ish tables
  * (transactions→orders, transactions.items→lineitem, products→part;
  * see SURVEY.md §7.1).
  *
  * Scale notes (100 TB design intent):
  *  - `part` is a dimension table → broadcast joins, no shuffle of the
  *    fact side by p_partkey.
  *  - co-purchase pairs use the one-shuffle collect_set + in-row pair
  *    expansion instead of a distinct + self-join (4 shuffles → 2); the
  *    reference's Mongo pipeline does exactly this shape with
  *    $reduce/$map (ref: "PRODUCTS BOUGHT IN PAIRS  MOST FREQUENTLY":14–42).
  *  - every ordered output carries a total-order tie-breaker so results
  *    are deterministic under any parallelism.
  */
object Commerce {

  /** Per-customer lifetime spend, top 10.
    * Ref: spark_analysis.py:90–103 and "Retrieval of top 10 customers by
    * total revenue spent.py":3–25 (Mongo $group/$sum/$sort/$limit).
    */
  def topSpenders(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        Det.detRound(Det.moneySum(col("o_totalprice")), 2).as("total_spent"),
        count(col("o_orderkey")).as("num_orders"))
      .orderBy(desc("total_spent"), asc("o_custkey"))
      .limit(10)
  }

  private val topSpendersSql =
    s"""SELECT o_custkey,
       |       ${Det.roundSql("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_spent,
       |       count(o_orderkey) AS num_orders
       |FROM orders
       |GROUP BY o_custkey
       |ORDER BY total_spent DESC, o_custkey
       |LIMIT 10""".stripMargin

  /** Revenue per category (p_brand ≈ category_id), via a broadcast left
    * join so unmatched parts keep a null category group.
    * Ref: spark_analysis.py:70–79 (join at :72, agg at :73–78).
    */
  def revenueByCategory(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "left")
      .groupBy(col("p_brand"))
      .agg(
        Det.detRound(
          Det.fineSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        Det.moneySum(col("l_quantity")).as("total_qty"),
        count(col("l_orderkey")).as("num_items"))
      .orderBy(desc("revenue"), asc_nulls_first("p_brand"))
  }

  private val revenueByCategorySql =
    s"""SELECT p.p_brand,
       |       ${Det.roundSql("CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(30,10))) AS DOUBLE)", 2)} AS revenue,
       |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       |       count(l.l_orderkey) AS num_items
       |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
       |GROUP BY p.p_brand
       |ORDER BY revenue DESC NULLS LAST, p_brand ASC NULLS FIRST""".stripMargin

  /** Unordered co-purchase pairs with frequencies, top 50.
    * Ref: spark_analysis.py:114–140 (self-join form) and the Mongo
    * $reduce/$map pair pipeline. One shuffle by l_orderkey, where
    * collect_set reproduces the reference's dropna+dropDuplicates
    * semantics (spark_analysis.py:117–118) and sort_array canonicalizes
    * so pair (x, y) always has x < y; then in-row combination expansion
    * (i < j): 2 shuffles total vs 4 for distinct + self-join + agg, and
    * no join skew. Guarded by the oracle's self-join formulation, so
    * both shapes are verified equivalent.
    */
  /** Pair expansion + counting over an (l_orderkey, l_partkey) frame —
    * the reusable core of the co-purchase queries (also unit-tested on
    * micro-fixtures in CommerceSpec).
    *
    * Two-level expansion: posexplode the per-order set, then explode
    * each suffix. A single flatten(transform(...)) would materialize
    * all C(n,2) pair structs of an order in ONE row buffer — a memory
    * cliff for a degenerate mega-basket; here per-row memory is bounded
    * by the basket size, while the pair stream is identical.
    */
  def pairCounts(items: DataFrame): DataFrame =
    pairCountsOfSets(orderSets(items))

  /** The per-order sorted part sets — the shared first shuffle of every
    * pair derivation, exposed so a query needing MORE than the pairs
    * (order count, per-part order counts) can derive everything from one
    * checkpointed sets frame instead of re-running the distinct per
    * consumer (pair_lift does).
    */
  private[operators] def orderSets(items: DataFrame): DataFrame =
    items
      .na.drop()
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))

  private[operators] def pairCountsOfSets(sets: DataFrame): DataFrame =
    sets
      // (a bounded round-robin fan of this SETS frame before the pair
      // expansion was tried in r16 and REVERTED on A/B evidence: the
      // expansion already runs ~3-4-way concurrent under AQE and the
      // extra exchange + sort-before-repartition cost every consumer
      // +0.3..0.6 s — same verdict as r15's items-scan fan)
      .select(posexplode(col("parts")).as(Seq("i", "part_x")), col("parts"))
      .select(
        col("part_x"),
        explode(expr("slice(parts, i + 2, size(parts))")).as("part_y"))
      .groupBy(col("part_x"), col("part_y"))
      .agg(count(lit(1)).as("pair_count"))

  /** The (l_orderkey, l_partkey) item frame feeding every co-purchase
    * pair derivation — shared by the pair queries and the graph tier.
    * NOT scan-fanned: measured (StageProfile A/B) — the collect_set
    * partial aggregate gains less from parallelism than the added
    * exchange + sort-before-repartition cost on this narrow frame
    * (pagerank_parts 1.70 → 2.37 s with the fan; reverted).
    */
  private[operators] def liPairItems(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))

  def alsoBoughtPairs(spark: SparkSession, dir: String): DataFrame = {
    pairCounts(liPairItems(spark, dir))
      .orderBy(desc("pair_count"), asc("part_x"), asc("part_y"))
      .limit(50)
  }

  private val alsoBoughtPairsSql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
      |)
      |SELECT a.l_partkey AS part_x, b.l_partkey AS part_y, count(*) AS pair_count
      |FROM items a JOIN items b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY pair_count DESC, part_x, part_y
      |LIMIT 50""".stripMargin

  /** Product popularity: quantity, revenue, distinct orders per product,
    * top 10 by quantity. Ref: PDF §7.2(B) Mongo product-popularity
    * pipeline ($unwind items → $group by product → $sum).
    */
  def productPopularity(spark: SparkSession, dir: String): DataFrame = {
    // Two-stage exact distinct: pre-aggregate by (part, order) — decimal
    // partial sums compose exactly — then count the groups. Avoids the
    // Expand (row-doubling) plan countDistinct-with-other-aggs needs;
    // the first shuffle's map-side partial aggregation also shrinks the
    // skewed hot-product partitions before they concentrate.
    // scan-fan (guide §2.5): the (part, order) pre-aggregate has ~zero
    // map-side collapse (the pair is near-unique), so on a single-split
    // source the whole decimal partial-agg pass runs on one core
    val pre = graft.Scans
      .fanSmall(spark, Tables.lineitem(spark, dir), dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_orderkey"))
      .agg(
        sum(col("l_quantity").cast(Det.Money)).as("q_dec"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(Det.Fine))
          .as("r_dec"))
    pre
      .groupBy(col("l_partkey"))
      .agg(
        sum(col("q_dec")).cast("double").as("total_qty"),
        Det.detRound(sum(col("r_dec")).cast("double"), 2).as("revenue"),
        count(lit(1)).as("num_orders"))
      .orderBy(desc("total_qty"), desc("revenue"), asc("l_partkey"))
      .limit(10)
  }

  private val productPopularitySql =
    s"""SELECT l_partkey,
       |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       |       ${Det.roundSql("CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))) AS DOUBLE)", 2)} AS revenue,
       |       count(DISTINCT l_orderkey) AS num_orders
       |FROM lineitem
       |GROUP BY l_partkey
       |ORDER BY total_qty DESC, revenue DESC, l_partkey
       |LIMIT 10""".stripMargin

  /** Daily revenue with a 7-day moving average (PDF §12.2 "revenue trends"
    * recommendation; window-function extension per SURVEY.md §2.7).
    * The unpartitioned window runs on one task, but only AFTER the
    * per-day aggregation — at 100 TB that is still just one row per day.
    * Dates are emitted as ISO strings for cross-engine type stability.
    */
  def revenueByDay(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(
        sum(col("o_totalprice").cast(Det.Money)).as("rev_dec"),
        count(lit(1)).as("num_orders"))
    val w = Window.orderBy(col("order_date")).rowsBetween(-6, 0)
    daily
      .select(
        col("order_date"),
        Det.detRound(col("rev_dec").cast("double"), 2).as("revenue"),
        col("num_orders"),
        Det.detRound(
          sum(col("rev_dec")).over(w).cast("double") / count(lit(1)).over(w), 2)
          .as("ma7_revenue"))
      .orderBy(col("order_date"))
  }

  private val revenueByDaySql =
    s"""WITH daily AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
       |         count(*) AS num_orders
       |  FROM orders GROUP BY 1
       |)
       |SELECT order_date,
       |       ${Det.roundSql("CAST(rev_dec AS DOUBLE)", 2)} AS revenue,
       |       num_orders,
       |       ${Det.roundSql("CAST(SUM(rev_dec) OVER w AS DOUBLE) / (count(*) OVER w)", 2)} AS ma7_revenue
       |FROM daily
       |WINDOW w AS (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       |ORDER BY order_date""".stripMargin

  /** Report-formatting query: top pairs labelled with truncated part names
    * (ref: plots_from_spark_outputs.py:17–20,114 — shorten_label + " + ").
    */
  def pairLabels(spark: SparkSession, dir: String): DataFrame = {
    def shorten(c: Column): Column =
      when(length(c) > 22, concat(substring(c, 1, 22), lit("..."))).otherwise(c)
    val pairs = alsoBoughtPairs(spark, dir)
    val names = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    pairs
      .join(broadcast(names), pairs("part_x") === names("p_partkey"))
      .withColumnRenamed("p_name", "name_x")
      .drop("p_partkey")
      .join(broadcast(names), col("part_y") === names("p_partkey"))
      .withColumnRenamed("p_name", "name_y")
      .select(
        col("part_x"),
        col("part_y"),
        col("pair_count"),
        concat_ws(" + ", shorten(col("name_x")), shorten(col("name_y"))).as("pair_label"))
      .orderBy(desc("pair_count"), asc("part_x"), asc("part_y"))
  }

  private val pairLabelsSql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
      |), pairs AS (
      |  SELECT a.l_partkey AS part_x, b.l_partkey AS part_y, count(*) AS pair_count
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  ORDER BY pair_count DESC, part_x, part_y
      |  LIMIT 50
      |)
      |SELECT part_x, part_y, pair_count,
      |       (CASE WHEN length(nx.p_name) > 22 THEN substring(nx.p_name, 1, 22) || '...' ELSE nx.p_name END)
      |       || ' + ' ||
      |       (CASE WHEN length(ny.p_name) > 22 THEN substring(ny.p_name, 1, 22) || '...' ELSE ny.p_name END)
      |         AS pair_label
      |FROM pairs JOIN part nx ON pairs.part_x = nx.p_partkey
      |           JOIN part ny ON pairs.part_y = ny.p_partkey
      |ORDER BY pair_count DESC, part_x, part_y""".stripMargin

  /** RFM segmentation (PDF §12.2 recommendation): recency / frequency /
    * monetary quartile scores (1–4) against exact percentile thresholds
    * broadcast from a one-row frame. Originally ntile(4) over
    * unpartitioned windows — the 10× scale probe measured that at 12 s
    * on 1.5M customers (single-partition sort); threshold scoring is
    * one hash aggregate + a broadcast, and scales linearly.
    */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("last_order"),
        max(unix_date(to_date(col("o_orderdate")))).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        Det.detRound(Det.moneySum(col("o_totalprice")), 2).as("monetary"))
    val thresholds = base.agg(
      Det.detRound(expr("percentile(recency_days, 0.25)"), 6).as("r25"),
      Det.detRound(expr("percentile(recency_days, 0.5)"), 6).as("r50"),
      Det.detRound(expr("percentile(recency_days, 0.75)"), 6).as("r75"),
      Det.detRound(expr("percentile(frequency, 0.25)"), 6).as("f25"),
      Det.detRound(expr("percentile(frequency, 0.5)"), 6).as("f50"),
      Det.detRound(expr("percentile(frequency, 0.75)"), 6).as("f75"),
      Det.detRound(expr("percentile(monetary, 0.25)"), 6).as("m25"),
      Det.detRound(expr("percentile(monetary, 0.5)"), 6).as("m50"),
      Det.detRound(expr("percentile(monetary, 0.75)"), 6).as("m75"))
    def score(v: String, q25: String, q50: String, q75: String) =
      (lit(1L) + (col(v) >= col(q25)).cast("long") +
        (col(v) >= col(q50)).cast("long") + (col(v) >= col(q75)).cast("long"))
    base
      .crossJoin(broadcast(thresholds))
      .select(
        col("o_custkey"), col("last_order"), col("recency_days"),
        col("frequency"), col("monetary"),
        score("recency_days", "r25", "r50", "r75").as("r_score"),
        score("frequency", "f25", "f50", "f75").as("f_score"),
        score("monetary", "m25", "m50", "m75").as("m_score"))
      .withColumn(
        "rfm_cell",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy(col("o_custkey"))
  }

  private val rfmSql = {
    def q(v: String, p: String) =
      Det.roundSql(s"quantile_cont(CAST($v AS DOUBLE), $p)", 6)
    def score(v: String, m: String) =
      s"1 + CAST($v >= t.${m}25 AS BIGINT) + CAST($v >= t.${m}50 AS BIGINT) + CAST($v >= t.${m}75 AS BIGINT)"
    s"""WITH base AS (
       |  SELECT o_custkey,
       |         max(strftime(o_orderdate, '%Y-%m-%d')) AS last_order,
       |         CAST(max(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) AS recency_days,
       |         count(*) AS frequency,
       |         ${Det.roundSql("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS monetary
       |  FROM orders GROUP BY o_custkey
       |), t AS (
       |  SELECT ${q("recency_days", "0.25")} AS r25, ${q("recency_days", "0.5")} AS r50, ${q("recency_days", "0.75")} AS r75,
       |         ${q("frequency", "0.25")} AS f25, ${q("frequency", "0.5")} AS f50, ${q("frequency", "0.75")} AS f75,
       |         ${q("monetary", "0.25")} AS m25, ${q("monetary", "0.5")} AS m50, ${q("monetary", "0.75")} AS m75
       |  FROM base
       |)
       |SELECT o_custkey, last_order, recency_days, frequency, monetary,
       |       ${score("recency_days", "r")} AS r_score,
       |       ${score("frequency", "f")} AS f_score,
       |       ${score("monetary", "m")} AS m_score,
       |       CAST(${score("recency_days", "r")} AS VARCHAR)
       |       || CAST(${score("frequency", "f")} AS VARCHAR)
       |       || CAST(${score("monetary", "m")} AS VARCHAR) AS rfm_cell
       |FROM base CROSS JOIN t
       |ORDER BY o_custkey""".stripMargin
  }

  /** Association-rule metrics over the co-purchase pairs (PDF §12.2
    * "pair lift/confidence" recommendation): support, directional
    * confidence, and lift from exact integer counts. Top 20 by lift.
    */
  def pairLift(spark: SparkSession, dir: String): DataFrame = {
    // ONE distinct+collect_set pass feeds all three statistics (guide
    // §2.4): the old shape derived nOrders, itemCounts (referenced twice
    // below) and the pair expansion each from their own run of the
    // items.distinct() subtree — four executions of the query's most
    // expensive stage. The sets frame is order-sized, checkpointed once:
    // n_orders = its row count (one group per distinct l_orderkey),
    // n_item = exploded set membership (each distinct (order, part)
    // exactly once), pairs = the usual in-row expansion.
    val sets = orderSets(liPairItems(spark, dir)).cutLineage()
    // order total as a broadcast one-row frame — no driver-side count()
    val nOrders = sets.agg(count(lit(1)).as("n_orders"))
    val itemCounts = sets
      .select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_item"))
      .cutLineage(eager = false) // joined twice (n_x, n_y)
    val pairs = pairCountsOfSets(sets)
    pairs
      .join(itemCounts.withColumnRenamed("l_partkey", "part_x").withColumnRenamed("n_item", "n_x"), "part_x")
      .join(itemCounts.withColumnRenamed("l_partkey", "part_y").withColumnRenamed("n_item", "n_y"), "part_y")
      .crossJoin(broadcast(nOrders))
      .select(
        col("part_x"), col("part_y"), col("pair_count"), col("n_x"), col("n_y"),
        Det.detRound(col("pair_count").cast("double") / col("n_orders"), 6).as("support"),
        Det.detRound(col("pair_count").cast("double") / col("n_x"), 6).as("conf_x_to_y"),
        Det.detRound(
          col("pair_count").cast("double") * col("n_orders") /
            (col("n_x") * col("n_y")).cast("double"),
          6).as("lift"))
      .orderBy(desc("lift"), desc("pair_count"), asc("part_x"), asc("part_y"))
      .limit(20)
  }

  private val pairLiftSql =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
       |), n AS (
       |  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
       |), ic AS (
       |  SELECT l_partkey, count(*) AS n_item FROM items GROUP BY 1
       |), pairs AS (
       |  SELECT a.l_partkey AS part_x, b.l_partkey AS part_y, count(*) AS pair_count
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |)
       |SELECT part_x, part_y, pair_count,
       |       x.n_item AS n_x, y.n_item AS n_y,
       |       ${Det.roundSql("CAST(pair_count AS DOUBLE) / n.n_orders", 6)} AS support,
       |       ${Det.roundSql("CAST(pair_count AS DOUBLE) / x.n_item", 6)} AS conf_x_to_y,
       |       ${Det.roundSql("CAST(pair_count AS DOUBLE) * n.n_orders / CAST(x.n_item * y.n_item AS DOUBLE)", 6)} AS lift
       |FROM pairs
       |JOIN ic x ON pairs.part_x = x.l_partkey
       |JOIN ic y ON pairs.part_y = y.l_partkey
       |CROSS JOIN n
       |ORDER BY lift DESC, pair_count DESC, part_x, part_y
       |LIMIT 20""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "pair_lift"           -> QueryDef(pairLift, Some(pairLiftSql)),
    "top_spenders"        -> QueryDef(topSpenders, Some(topSpendersSql)),
    "revenue_by_category" -> QueryDef(revenueByCategory, Some(revenueByCategorySql)),
    "also_bought_pairs"   -> QueryDef(alsoBoughtPairs, Some(alsoBoughtPairsSql)),
    "product_popularity"  -> QueryDef(productPopularity, Some(productPopularitySql)),
    "revenue_by_day"      -> QueryDef(revenueByDay, Some(revenueByDaySql)),
    "pair_labels"         -> QueryDef(pairLabels, Some(pairLabelsSql)),
    "rfm"                 -> QueryDef(rfm, Some(rfmSql)))
}
