package graft.operators

import graft.{Det, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Clickstream / engagement analytics over the `events` table — the Spark
  * re-expression of the reference's HBase session-log leg plus the
  * integrated engagement-vs-spend query
  * (ref: load_hbase_sessions_stream.py, integrated_query_engagement_vs_spend.py).
  *
  * Timestamps: `events.ts` is epoch-MICROSECONDS BIGINT — normalized at
  * the Tables.events boundary from whatever the parquet physically stores
  * (INT64 nanos or timestamp[us]) — matching `epoch_us(ts)` in the DuckDB
  * oracles, so both engines see the same int64 value. All sums go through
  * Det decimal casts for bit-exact cross-engine results.
  */
object Engagement {

  private val GapUs: Long = 12L * 3600 * 1000 * 1000 // 12h session gap, µs

  /** events with ts in epoch microseconds — already normalized at the
    * Tables.events boundary; kept as a named alias for readability.
    */
  private def eventsUs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  /** Per-user engagement metrics: the scan-side aggregation the reference
    * does in Python defaultdicts over an HBase scan
    * (integrated_query…py:51–68), as one hash aggregate.
    */
  def userEngagement(spark: SparkSession, dir: String): DataFrame = {
    eventsUs(spark, dir)
      // user-grain analytics: anonymous (NULL-user) events are excluded
      // on both engines — they would otherwise merge into one fake
      // mega-user AND diverge in NULL sort order (null_sweep hazard)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("sessions_count"),
        sum(col("value").cast(Det.Money)).as("dur_dec"),
        max(col("ts")).as("last_seen"),
        countDistinct(col("event_type")).as("distinct_event_types"))
      .select(
        col("user_id"),
        col("sessions_count"),
        Det.detRound(col("dur_dec").cast("double"), 2).as("total_duration_seconds"),
        Det.detRound(col("dur_dec").cast("double") / col("sessions_count"), 4)
          .as("avg_duration_seconds"),
        col("last_seen"),
        col("distinct_event_types"))
      .orderBy(col("user_id"))
  }

  private val userEngagementSql =
    s"""SELECT user_id,
       |       count(*) AS sessions_count,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_duration_seconds,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)", 4)} AS avg_duration_seconds,
       |       epoch_us(max(ts)) AS last_seen,
       |       count(DISTINCT event_type) AS distinct_event_types
       |FROM events
       |WHERE user_id IS NOT NULL
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** Per-user first-5 events — the windowed generalization of the
    * reference's HBase PrefixFilter top-5 scan (PDF p.10 §7.5;
    * SURVEY.md §2.7). Partition-parallel: one shuffle by user_id.
    */
  def userSessionsTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    eventsUs(spark, dir)
      .filter(col("user_id").isNotNull) // anonymous events: see userEngagement
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy(col("user_id"), col("rn"))
  }

  private val userSessionsTopKSql =
    """SELECT user_id, epoch_us(ts) AS ts, event_id, event_type, rn
      |FROM (
      |  SELECT user_id, ts, event_id, event_type,
      |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events
      |  WHERE user_id IS NOT NULL
      |) WHERE rn <= 5
      |ORDER BY user_id, rn""".stripMargin

  /** Same query through the engine's custom TopKPerKey operator
    * (LogicalPlan + Strategy + SparkPlan, see
    * org.apache.spark.sql.graft.TopKPerKey): bounded per-key heaps —
    * O(n log k), no partition sort, no window buffer. Verified against
    * the identical DuckDB oracle as the window formulation.
    */
  def userSessionsTopKCustom(spark: SparkSession, dir: String): DataFrame = {
    val base = eventsUs(spark, dir)
      .filter(col("user_id").isNotNull) // anonymous events: see userEngagement
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    org.apache.spark.sql.graft.TopK
      .perKey(
        base,
        Seq("user_id"),
        Seq("ts" -> true, "event_id" -> true),
        k = 5,
        rankName = "rn")
      .orderBy(col("user_id"), col("rn"))
  }

  /** Single-user prefix scan (HBase `PrefixFilter('user_000042|')` LIMIT 5,
    * PDF p.10 §7.5): predicate + limit, pushed to the parquet scan.
    */
  def sessionPrefixScan(spark: SparkSession, dir: String): DataFrame = {
    eventsUs(spark, dir)
      .filter(col("user_id") === 42)
      .orderBy(col("ts"), col("event_id"))
      .limit(5)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
  }

  private val sessionPrefixScanSql =
    """SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value, props
      |FROM events WHERE user_id = 42
      |ORDER BY epoch_us(ts), event_id
      |LIMIT 5""".stripMargin

  /** JSON-payload handling (ref stores nested session payloads as JSON
    * strings in HBase cells, load_hbase_sessions_stream.py:69–70): extract
    * `props.k` and aggregate per event type. regexp_extract keeps the
    * oracle dialect-portable.
    */
  def eventsPropsJson(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"))
      .select(
        col("event_type"),
        col("n_events"),
        col("sum_k"),
        Det.detRound(col("sum_k").cast("double") / col("n_events"), 4).as("avg_k"))
      .orderBy(col("event_type"))
  }

  private val eventsPropsJsonSql =
    s"""SELECT event_type,
       |       count(*) AS n_events,
       |       CAST(SUM(TRY_CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS BIGINT)) AS BIGINT) AS sum_k,
       |       ${Det.roundSql("CAST(SUM(TRY_CAST(NULLIF(regexp_extract(props, '\"k\":\\s*(\\d+)', 1), '') AS BIGINT)) AS DOUBLE) / count(*)", 4)} AS avg_k
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** The integrated per-user frame (pre-sort): engagement ⟕ spend with
    * derived scores and quantile-threshold segmentation. Mirrors
    * integrated_query_engagement_vs_spend.py:159–217 exactly — column
    * names, `>=` threshold comparisons, and the four segment labels.
    * One distributed DAG: two hash aggregates, a shuffle join on user_id,
    * and a broadcast of the one-row threshold frame.
    */
  private def integrated(spark: SparkSession, dir: String): DataFrame = {
    val eng = Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("sessions_count"), sum(col("value").cast(Det.Money)).as("dur_dec"))
      .select(
        col("user_id"),
        col("sessions_count"),
        Det.detRound(col("dur_dec").cast("double"), 2).as("total_duration_seconds"),
        Det.detRound(col("dur_dec").cast("double") / col("sessions_count"), 4)
          .as("avg_duration_seconds"))

    val spend = Tables
      .orders(spark, dir)
      .select(col("o_custkey").as("user_id"), col("o_totalprice"))
      .groupBy(col("user_id"))
      .agg(
        Det.detRound(Det.moneySum(col("o_totalprice")), 2).as("total_spent"),
        count(lit(1)).as("num_orders"))

    // Spark's AQE can swap eng/spend codegen stage ids between runs: 4 recompiles.
    val joined = eng
      .join(spend, Seq("user_id"), "left")
      .na.fill(0.0, Seq("total_spent"))
      .na.fill(0L, Seq("num_orders"))

    // Exact percentile buffers one entry per DISTINCT value; fine for
    // small-int sessions_count at any scale, and for 2-dp money until the
    // distinct-value count rivals executor memory — at true 100 TB swap
    // to approx_percentile (the oracle would then use the same sketch
    // semantics or a tolerance compare).
    val thresholds = joined.agg(
      Det.detRound(expr("percentile(sessions_count, 0.75)"), 6).as("ses_q"),
      Det.detRound(expr("percentile(total_spent, 0.75)"), 6).as("spend_q"))

    joined
      .crossJoin(broadcast(thresholds))
      .select(
        col("user_id"),
        col("sessions_count"),
        col("total_duration_seconds"),
        col("avg_duration_seconds"),
        col("total_spent"),
        col("num_orders"),
        Det.detRound(
          col("sessions_count") * (lit(1.0) + col("avg_duration_seconds") / 600.0), 4)
          .as("engagement_score"),
        Det.detRound(
          when(col("num_orders") > 0, col("total_spent") / col("num_orders"))
            .otherwise(0.0),
          2).as("spend_per_order"),
        (col("num_orders") > 0).as("is_buyer"),
        when(
          col("sessions_count") >= col("ses_q") && col("total_spent") >= col("spend_q"),
          "HighEngagement-HighSpend")
          .when(col("sessions_count") >= col("ses_q"), "HighEngagement-LowSpend")
          .when(col("total_spent") >= col("spend_q"), "LowEngagement-HighSpend")
          .otherwise("LowEngagement-LowSpend")
          .as("segment"))
  }

  private val integratedSqlBody =
    s"""WITH eng AS (
       |  SELECT user_id,
       |         count(*) AS sessions_count,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur
       |  FROM events GROUP BY user_id
       |), eng2 AS (
       |  SELECT user_id, sessions_count,
       |         ${Det.roundSql("dur", 2)} AS total_duration_seconds,
       |         ${Det.roundSql("dur / sessions_count", 4)} AS avg_duration_seconds
       |  FROM eng
       |), spend AS (
       |  SELECT o_custkey AS user_id,
       |         ${Det.roundSql("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_spent,
       |         count(*) AS num_orders
       |  FROM orders GROUP BY o_custkey
       |), joined AS (
       |  SELECT e.user_id, e.sessions_count, e.total_duration_seconds, e.avg_duration_seconds,
       |         coalesce(s.total_spent, 0.0) AS total_spent,
       |         coalesce(s.num_orders, 0) AS num_orders
       |  FROM eng2 e LEFT JOIN spend s USING (user_id)
       |), thr AS (
       |  SELECT ${Det.roundSql("quantile_cont(CAST(sessions_count AS DOUBLE), 0.75)", 6)} AS ses_q,
       |         ${Det.roundSql("quantile_cont(total_spent, 0.75)", 6)} AS spend_q
       |  FROM joined
       |), seg AS (
       |  SELECT j.user_id, j.sessions_count, j.total_duration_seconds, j.avg_duration_seconds,
       |         j.total_spent, j.num_orders,
       |         ${Det.roundSql("j.sessions_count * (1.0 + j.avg_duration_seconds / 600.0)", 4)} AS engagement_score,
       |         ${Det.roundSql("CASE WHEN j.num_orders > 0 THEN j.total_spent / j.num_orders ELSE 0.0 END", 2)} AS spend_per_order,
       |         j.num_orders > 0 AS is_buyer,
       |         CASE WHEN j.sessions_count >= t.ses_q AND j.total_spent >= t.spend_q THEN 'HighEngagement-HighSpend'
       |              WHEN j.sessions_count >= t.ses_q THEN 'HighEngagement-LowSpend'
       |              WHEN j.total_spent >= t.spend_q THEN 'LowEngagement-HighSpend'
       |              ELSE 'LowEngagement-LowSpend' END AS segment
       |  FROM joined j CROSS JOIN thr t
       |)""".stripMargin

  /** Full integrated metrics table, reference output ordering
    * (integrated_query…py:220: total_spent desc, sessions_count desc,
    * + user_id tie-break for determinism).
    */
  def engagementVsSpend(spark: SparkSession, dir: String): DataFrame =
    integrated(spark, dir)
      .orderBy(desc("total_spent"), desc("sessions_count"), asc("user_id"))

  private val engagementVsSpendSql =
    integratedSqlBody +
      "\nSELECT * FROM seg ORDER BY total_spent DESC, sessions_count DESC, user_id"

  /** Segment frequency table (integrated_query…py:230 value_counts). */
  def segmentCounts(spark: SparkSession, dir: String): DataFrame =
    integrated(spark, dir)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("segment"))

  private val segmentCountsSql =
    integratedSqlBody +
      "\nSELECT segment, count(*) AS n_users FROM seg GROUP BY segment ORDER BY segment"

  /** Buyers-only Pearson correlations (integrated_query…py:121–133,225–228).
    * Computed from exact decimal power sums so Spark and DuckDB produce
    * bit-identical doubles; zero-variance and n<2 degenerate to 0.0 like
    * the reference's hand-rolled pearson_corr.
    */
  def engagementSpendCorr(spark: SparkSession, dir: String): DataFrame = {
    val buyers = integrated(spark, dir)
      .filter(col("total_spent") > 0)
      .select(
        col("total_spent").as("x"),
        col("sessions_count").cast("double").as("y1"),
        col("total_duration_seconds").as("y2"))
    buyers
      .agg(
        count(lit(1)).as("n"),
        Det.fineSum(col("x")).as("sx"),
        Det.fineSum(col("y1")).as("sy1"),
        Det.fineSum(col("y2")).as("sy2"),
        Det.fineSum(col("x") * col("x")).as("sxx"),
        Det.fineSum(col("y1") * col("y1")).as("sy1y1"),
        Det.fineSum(col("y2") * col("y2")).as("sy2y2"),
        Det.fineSum(col("x") * col("y1")).as("sxy1"),
        Det.fineSum(col("x") * col("y2")).as("sxy2"))
      .select(
        col("n").as("num_buyers"),
        Det.detRound(corrExpr("sx", "sy1", "sxx", "sy1y1", "sxy1"), 4)
          .as("corr_spend_sessions"),
        Det.detRound(corrExpr("sx", "sy2", "sxx", "sy2y2", "sxy2"), 4)
          .as("corr_spend_duration"))
  }

  /** Least-squares regression of spend on session count over the same
    * integrated frame — slope/intercept/r² from the same exact decimal
    * power sums as the correlation query (the regr_slope/regr_r2
    * builtin family, hand-assembled because the builtins' double sums
    * are partition-order-dependent and can never hash-match an oracle).
    */
  def engagementSpendRegression(spark: SparkSession, dir: String): DataFrame = {
    val buyers = integrated(spark, dir)
      .filter(col("total_spent") > 0)
      .select(
        col("sessions_count").cast("double").as("x"),
        col("total_spent").as("y"))
    val n    = col("n").cast("double")
    val varx = n * col("sxx") - col("sx") * col("sx")
    val vary = greatest(n * col("syy") - col("sy") * col("sy"), lit(0.0))
    val num  = n * col("sxy") - col("sx") * col("sy")
    val slope = when(col("n") < 2 || varx <= 0.0, 0.0).otherwise(num / varx)
    buyers
      .agg(
        count(lit(1)).as("n"),
        Det.fineSum(col("x")).as("sx"),
        Det.fineSum(col("y")).as("sy"),
        Det.fineSum(col("x") * col("x")).as("sxx"),
        Det.fineSum(col("y") * col("y")).as("syy"),
        Det.fineSum(col("x") * col("y")).as("sxy"))
      .select(
        col("n").as("num_buyers"),
        Det.detRound(slope, 6).as("slope"),
        Det.detRound((col("sy") - slope * col("sx")) / n, 6).as("intercept"),
        Det.detRound(
          when(col("n") < 2 || varx <= 0.0 || vary === 0.0, 0.0)
            .otherwise(num * num / (varx * vary)),
          6).as("r2"))
  }

  private lazy val engagementSpendRegressionSql = {
    val slope =
      """CASE WHEN n < 2 OR (n*sxx - sx*sx) <= 0.0 THEN 0.0
        | ELSE (n*sxy - sx*sy) / (n*sxx - sx*sx) END""".stripMargin.replaceAll("\n", " ")
    integratedSqlBody +
      s""",
         |sums AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS num_buyers,
         |         CAST(SUM(CAST(CAST(sessions_count AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(total_spent AS DECIMAL(30,10))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(CAST(sessions_count AS DOUBLE) * CAST(sessions_count AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         |         CAST(SUM(CAST(total_spent * total_spent AS DECIMAL(30,10))) AS DOUBLE) AS syy,
         |         CAST(SUM(CAST(CAST(sessions_count AS DOUBLE) * total_spent AS DECIMAL(30,10))) AS DOUBLE) AS sxy
         |  FROM seg WHERE total_spent > 0
         |)
         |SELECT num_buyers,
         |       ${Det.roundSql(slope, 6)} AS slope,
         |       ${Det.roundSql(s"(sy - ($slope) * sx) / n", 6)} AS intercept,
         |       ${Det.roundSql(
          """CASE WHEN n < 2 OR (n*sxx - sx*sx) <= 0.0 OR greatest(n*syy - sy*sy, 0.0) = 0.0 THEN 0.0
            | ELSE (n*sxy - sx*sy) * (n*sxy - sx*sy) / ((n*sxx - sx*sx) * greatest(n*syy - sy*sy, 0.0)) END"""
            .stripMargin.replaceAll("\n", " "),
          6)} AS r2
         |FROM sums""".stripMargin
  }

  /** corr = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²)), 0.0 when
    * degenerate. Shared expression shape with the DuckDB oracle below.
    */
  private def corrExpr(sx: String, sy: String, sxx: String, syy: String,
      sxy: String) = {
    val n    = col("n").cast("double")
    val num  = n * col(sxy) - col(sx) * col(sy)
    val varx = greatest(n * col(sxx) - col(sx) * col(sx), lit(0.0))
    val vary = greatest(n * col(syy) - col(sy) * col(sy), lit(0.0))
    val den  = sqrt(varx) * sqrt(vary)
    when(col("n") < 2 || den === 0.0, 0.0).otherwise(num / den)
  }

  private val engagementSpendCorrSql = {
    def corrSql(sy: String, syy: String, sxy: String) =
      s"""CASE WHEN n < 2 OR sqrt(greatest(n*sxx - sx*sx, 0.0)) * sqrt(greatest(n*$syy - $sy*$sy, 0.0)) = 0.0
         | THEN 0.0
         | ELSE (n*$sxy - sx*$sy) / (sqrt(greatest(n*sxx - sx*sx, 0.0)) * sqrt(greatest(n*$syy - $sy*$sy, 0.0)))
         | END""".stripMargin.replaceAll("\n", " ")
    integratedSqlBody +
      s""",
         |sums AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS num_buyers,
         |         CAST(SUM(CAST(total_spent AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(CAST(sessions_count AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) AS sy1,
         |         CAST(SUM(CAST(total_duration_seconds AS DECIMAL(30,10))) AS DOUBLE) AS sy2,
         |         CAST(SUM(CAST(total_spent * total_spent AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         |         CAST(SUM(CAST(CAST(sessions_count AS DOUBLE) * CAST(sessions_count AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) AS sy1y1,
         |         CAST(SUM(CAST(total_duration_seconds * total_duration_seconds AS DECIMAL(30,10))) AS DOUBLE) AS sy2y2,
         |         CAST(SUM(CAST(total_spent * CAST(sessions_count AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) AS sxy1,
         |         CAST(SUM(CAST(total_spent * total_duration_seconds AS DECIMAL(30,10))) AS DOUBLE) AS sxy2
         |  FROM seg WHERE total_spent > 0
         |)
         |SELECT num_buyers,
         |       ${Det.roundSql(corrSql("sy1", "sy1y1", "sxy1"), 4)} AS corr_spend_sessions,
         |       ${Det.roundSql(corrSql("sy2", "sy2y2", "sxy2"), 4)} AS corr_spend_duration
         |FROM sums""".stripMargin
  }

  /** Gap-based sessionization of the event stream (12h inactivity gap):
    * the batch form of Structured Streaming session windows. One shuffle
    * by user_id; lag + running sum of session breaks, then per-session
    * aggregates. (Natural Spark extension of the reference's session
    * logs — SURVEY.md §2.8.)
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w   = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventsUs(spark, dir)
      .filter(col("user_id").isNotNull) // anonymous events: see userEngagement
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "new_sess",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > GapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        Det.detRound(Det.moneySum(col("value")), 2).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** The NATIVE session-window operator (`session_window(ts, gap)` —
    * Spark's EventTimeSessionWindow surface, usable identically in
    * batch and streaming) over the same 12 h gap as `sessionize`.
    * Boundary semantics differ from the lag-island form by design and
    * are mirrored in the oracle: the native operator merges an event
    * only while it lands STRICTLY inside [start, last+gap), so a gap of
    * exactly 12 h starts a new session (the island form's `>` keeps
    * it). session_end is last_event + gap, the operator's window end.
    * One shuffle on user_id; the in-partition merge is a sort + linear
    * sweep — the same cost shape as the window formulation.
    */
  /** The session_window aggregation core over any (user_id, t, value)
    * frame — shared verbatim by the batch query and the streaming form
    * (StreamingSpec drives it with a watermark; closed sessions match
    * this batch answer).
    */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        col("user_id"),
        session_window(col("t"), s"$GapUs microseconds").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        Det.detRound(Det.moneySum(col("value")), 2).as("total_value"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("session_start"),
        unix_micros(col("w.end")).as("session_end"),
        col("n_events"),
        col("total_value"))

  def sessionWindowNative(spark: SparkSession, dir: String): DataFrame =
    sessionWindowAgg(
      eventsUs(spark, dir)
        .filter(col("user_id").isNotNull) // anonymous events: see userEngagement
        .select(
          col("user_id"),
          timestamp_micros(col("ts")).as("t"),
          col("value")))
      .orderBy(col("user_id"), col("session_start"))

  private val sessionWindowNativeSql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts, value,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_ts
       |  FROM events
       |  WHERE user_id IS NOT NULL
       |), marked AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= ${GapUs}
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM e
       |), sessions AS (
       |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM marked
       |)
       |SELECT user_id,
       |       min(ts) AS session_start,
       |       max(ts) + ${GapUs} AS session_end,
       |       count(*) AS n_events,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_value
       |FROM sessions
       |GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  private val sessionizeSql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts, event_id, value,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
       |  FROM events
       |  WHERE user_id IS NOT NULL
       |), marked AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > ${GapUs}
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM e
       |), sessions AS (
       |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM marked
       |)
       |SELECT user_id, session_id, count(*) AS n_events,
       |       min(ts) AS session_start, max(ts) AS session_end,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_value
       |FROM sessions
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** Per-event-type latency-style percentiles (p50/p95/p99 of value) —
    * the standard telemetry aggregation; exact percentiles over a
    * small-cardinality group key.
    */
  def eventValuePercentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Det.detRound(expr("percentile(value, 0.5)"), 4).as("p50"),
        Det.detRound(expr("percentile(value, 0.95)"), 4).as("p95"),
        Det.detRound(expr("percentile(value, 0.99)"), 4).as("p99"),
        Det.detRound(
          sum(col("value").cast(Det.Money)).cast("double") / count(lit(1)), 4)
          .as("mean"))
      .orderBy(col("event_type"))
  }

  private val eventValuePercentilesSql =
    s"""SELECT event_type,
       |       count(*) AS n_events,
       |       ${Det.roundSql("quantile_cont(value, 0.5)", 4)} AS p50,
       |       ${Det.roundSql("quantile_cont(value, 0.95)", 4)} AS p95,
       |       ${Det.roundSql("quantile_cont(value, 0.99)", 4)} AS p99,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)", 4)} AS mean
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Composite rowkey encode (reference: HBase rowkey
    * `user_id|start_time|session_id`, load_hbase_sessions_stream.py:34–38,
    * with newline sanitization at :20–22): zero-padded fields so the
    * string ordering IS the (user, time, event) ordering — the rowkey
    * design rule — plus the P15 sanitize pass on the free-text field.
    * Top-100 by rowkey; oracle = identical string assembly in SQL.
    */
  def rowkeyEncode(spark: SparkSession, dir: String): DataFrame = {
    eventsUs(spark, dir)
      .select(
        concat_ws(
          "|",
          lpad(col("user_id").cast("string"), 8, "0"),
          lpad(col("ts").cast("string"), 20, "0"),
          lpad(col("event_id").cast("string"), 10, "0")).as("rowkey"),
        trim(regexp_replace(col("event_type"), "[\\n\\r]", " ")).as("event_type"),
        col("value"))
      .orderBy(col("rowkey"))
      .limit(100)
  }

  private val rowkeyEncodeSql =
    """SELECT concat_ws('|',
      |         lpad(CAST(user_id AS VARCHAR), 8, '0'),
      |         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0'),
      |         lpad(CAST(event_id AS VARCHAR), 10, '0')) AS rowkey,
      |       trim(regexp_replace(event_type, '[\n\r]', ' ', 'g')) AS event_type,
      |       value
      |FROM events
      |ORDER BY rowkey
      |LIMIT 100""".stripMargin

  /** Activity heatmap: events bucketed by (day-of-week, hour-of-day) —
    * the calendar-extraction surface (dow/hour on event timestamps).
    * Spark's dayofweek is 1-based Sunday-first; DuckDB's 0-based — the
    * query normalizes to 0=Sunday in both engines.
    */
  def eventsHourlyHeatmap(spark: SparkSession, dir: String): DataFrame = {
    graft.streaming.EventStreams
      .withEventTime(Tables.events(spark, dir))
      .groupBy(
        (dayofweek(col("event_time")) - 1).as("dow"),
        hour(col("event_time")).as("hour_of_day"))
      .agg(
        count(lit(1)).as("n_events"),
        Det.detRound(Det.moneySum(col("value")), 2).as("total_value"))
      .orderBy(col("dow"), col("hour_of_day"))
  }

  private val eventsHourlyHeatmapSql =
    s"""SELECT dayofweek(ts) AS dow,
       |       CAST(hour(ts) AS INT) AS hour_of_day,
       |       count(*) AS n_events,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY dow, hour_of_day""".stripMargin

  /** Per-user EWMA of daily event value (α = 0.25): the time-series
    * smoothing pass behind "is this user's activity trending". Two
    * stages, both scale-safe: a (user, day) hash rollup (exact decimal
    * sums), then an IN-ROW fold over the user's ordered day vector —
    * collect_list is bounded by the day window (30 here), never by event
    * count, and the recurrence runs inside codegen'd `aggregate`, not a
    * sequential window. α = 1/4 is exact in binary, and both engines
    * fold the identical expression tree left-to-right, so the doubles
    * match bit for bit before the final deterministic round.
    */
  def userValueEwma(spark: SparkSession, dir: String): DataFrame = {
    eventsUs(spark, dir)
      // anonymous events excluded (see userEngagement); value-less
      // events carry nothing to smooth and a NULL would poison the fold
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(
        col("user_id"),
        date_format(timestamp_micros(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(Det.moneySum(col("value")).as("v"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("v")))).as("dv"))
      .select(
        col("user_id"),
        col("n_days"),
        Det.detRound(
          expr("aggregate(transform(dv, s -> s.v), CAST(0.0 AS DOUBLE), (a, x) -> a * 0.75D + 0.25D * x)"),
          6).as("ewma_value"))
      .orderBy(col("user_id"))
  }

  private val userValueEwmaSql =
    s"""WITH daily AS (
       |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
       |  FROM events
       |  WHERE user_id IS NOT NULL AND value IS NOT NULL
       |  GROUP BY user_id, day
       |), packed AS (
       |  SELECT user_id, count(*) AS n_days, list(v ORDER BY day) AS vs
       |  FROM daily GROUP BY user_id
       |)
       |SELECT user_id, n_days,
       |       ${Det.roundSql(
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs), (a, b) -> a * 0.75 + 0.25 * b)",
        6)} AS ewma_value
       |FROM packed
       |ORDER BY user_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "user_value_ewma"       -> QueryDef(userValueEwma, Some(userValueEwmaSql)),
    "events_hourly_heatmap" ->
      QueryDef(eventsHourlyHeatmap, Some(eventsHourlyHeatmapSql)),
    "engagement_spend_regression" ->
      QueryDef(engagementSpendRegression, Some(engagementSpendRegressionSql)),
    "rowkey_encode"         -> QueryDef(rowkeyEncode, Some(rowkeyEncodeSql)),
    "event_value_percentiles" -> QueryDef(eventValuePercentiles, Some(eventValuePercentilesSql)),
    "user_engagement"       -> QueryDef(userEngagement, Some(userEngagementSql)),
    "user_sessions_topk"    -> QueryDef(userSessionsTopK, Some(userSessionsTopKSql)),
    "user_sessions_topk_custom" -> QueryDef(userSessionsTopKCustom, Some(userSessionsTopKSql)),
    "session_prefix_scan"   -> QueryDef(sessionPrefixScan, Some(sessionPrefixScanSql)),
    "events_props_json"     -> QueryDef(eventsPropsJson, Some(eventsPropsJsonSql)),
    "engagement_vs_spend"   -> QueryDef(engagementVsSpend, Some(engagementVsSpendSql)),
    "segment_counts"        -> QueryDef(segmentCounts, Some(segmentCountsSql)),
    "engagement_spend_corr" -> QueryDef(engagementSpendCorr, Some(engagementSpendCorrSql)),
    "sessionize"            -> QueryDef(sessionize, Some(sessionizeSql)),
    "session_window_native" -> QueryDef(sessionWindowNative, Some(sessionWindowNativeSql)))
}
