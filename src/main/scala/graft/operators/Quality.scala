package graft.operators

import graft.{Det, QueryDef, Tables}
import graft.Ckpt.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality / catalog tier (round 4, batch 3): the audits a 100 TB
  * warehouse runs continuously — column profiling (the stats that feed
  * the optimizer and the data catalog), referential-integrity checks,
  * and snapshot diffing (deriving a change feed from two versions of a
  * materialized aggregate).
  *
  * Scale notes:
  *  - tableProfile is ONE scan of the table: every column's null count,
  *    distinct count and min/max ride a single aggregate (the multiple
  *    exact count-distincts share one Expand pass — at 100 TB swap them
  *    for the KMV/HLL sketches in functions.Aggregators, same shape,
  *    no Expand). The per-column rows come from unpivoting the one
  *    aggregated row — never from per-column scans.
  *  - fkOrphans is per-edge anti-join + count: broadcast for dim-sized
  *    parents, shuffle otherwise; counts only, so no payload shuffles.
  *  - snapshotDiff joins two aggregate STATES (already key-sized, not
  *    fact-sized) full-outer and keeps changed keys — the standard way a
  *    change feed is derived when the source can't emit one.
  */
object Quality {

  // ----------------------------------------------------------- table profile

  /** Generic single-pass column profiler. Emits one row per column:
    * null count, distinct count, and type-split min/max (numerics
    * as rounded doubles, dates/strings as strings) so the output schema
    * is stable across column types.
    *
    * `exactDistinct=false` swaps every exact count-distinct for the
    * mergeable KMV estimate over a canonical per-type serialization —
    * the same single-pass shape with NO Expand and k·|columns| longs of
    * aggregate state regardless of table size (nulls/min/max stay
    * exact; NULLs are excluded from the NDV estimate exactly as
    * countDistinct excludes them on the exact path). This is the plan
    * the row-cap routing below selects at 100 TB.
    */
  def tableProfile(df: DataFrame, exactDistinct: Boolean = true): DataFrame = {
    val fields = df.schema.fields.toSeq
    val kmv    = graft.functions.KmvDistinct.udf(ProfileKmvK)
    def serOf(f: StructField): Column = f.dataType match {
      case DateType      => date_format(col(f.name), "yyyy-MM-dd")
      case TimestampType => date_format(col(f.name), "yyyy-MM-dd HH:mm:ss")
      case _             => col(f.name).cast("string")
    }
    def nullsOf(f: StructField): Column =
      sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls")
    // Spark's RewriteDistinctAggregates orders distinct groups per run: ~6 recompiles.
    def distinctOf(f: StructField): Column =
      if (exactDistinct) countDistinct(col(f.name)).as(s"${f.name}__nd")
      else
        // NULL values route to the sketch's skip sentinel so the routed
        // NDV matches the exact path's countDistinct NULL-exclusion (an
        // all-NULL column profiles as 0 on both paths); the outer
        // coalesce pins non-nullability so the routed schema is
        // field-for-field identical to the exact profile's
        coalesce(
          round(kmv(coalesce(
            Det.md5h60Col(serOf(f)).cast("long"),
            lit(graft.functions.KmvDistinct.NullSentinel))))
            .cast("long"),
          lit(0L)).as(s"${f.name}__nd")
    def minMax(f: StructField): Seq[Column] = f.dataType match {
      case _: NumericType =>
        Seq(
          Det.detRound(min(col(f.name)).cast("double"), 6).as(s"${f.name}__min_num"),
          Det.detRound(max(col(f.name)).cast("double"), 6).as(s"${f.name}__max_num"),
          lit(null).cast("string").as(s"${f.name}__min_str"),
          lit(null).cast("string").as(s"${f.name}__max_str"))
      case DateType =>
        Seq(
          lit(null).cast("double").as(s"${f.name}__min_num"),
          lit(null).cast("double").as(s"${f.name}__max_num"),
          date_format(min(col(f.name)), "yyyy-MM-dd").as(s"${f.name}__min_str"),
          date_format(max(col(f.name)), "yyyy-MM-dd").as(s"${f.name}__max_str"))
      case TimestampType =>
        Seq(
          lit(null).cast("double").as(s"${f.name}__min_num"),
          lit(null).cast("double").as(s"${f.name}__max_num"),
          date_format(min(col(f.name)), "yyyy-MM-dd HH:mm:ss").as(s"${f.name}__min_str"),
          date_format(max(col(f.name)), "yyyy-MM-dd HH:mm:ss").as(s"${f.name}__max_str"))
      case _ =>
        Seq(
          lit(null).cast("double").as(s"${f.name}__min_num"),
          lit(null).cast("double").as(s"${f.name}__max_num"),
          min(col(f.name)).cast("string").as(s"${f.name}__min_str"),
          max(col(f.name)).cast("string").as(s"${f.name}__max_str"))
    }
    // Exact path: the count-distincts run in their OWN aggregate, apart
    // from the min/max/null stats. Mixed together, the rewritten
    // multi-distinct plan carries the min(string)/max(string) buffers
    // through its Expand arms — non-primitive aggregation buffers force
    // SortAggregate, i.e. a full sort of rows×(columns+1) Expand output
    // on a 7-part key (StageProfile: 60 CPU-s on sf0.1 orders, the
    // single hottest stage in the bench). Split, the distinct pass has
    // pure count buffers (HashAggregate end to end, no sort) and the
    // stats pass is one global sort-free streaming aggregate with no
    // Expand. Two scans of the input — bounded: the exact path is
    // row-capped (ProfileExactCap) and routes to the single-pass KMV
    // plan above it. Same aggregate values, same output schema.
    val statsAggs: Seq[Column] =
      count(lit(1)).as("__n") +:
        fields.flatMap(f => nullsOf(f) +: minMax(f))
    val wide =
      if (exactDistinct) {
        val nds = df.agg(
          distinctOf(fields.head), fields.tail.map(distinctOf): _*)
        df.agg(statsAggs.head, statsAggs.tail: _*).crossJoin(nds)
      } else {
        val aggs: Seq[Column] =
          count(lit(1)).as("__n") +:
            fields.flatMap(f => nullsOf(f) +: distinctOf(f) +: minMax(f))
        df.agg(aggs.head, aggs.tail: _*)
      }
    // unpivot the single aggregated row into one row per column
    val rows = fields.map { f =>
      struct(
        lit(f.name).as("col_name"),
        col("__n").as("n_rows"),
        col(s"${f.name}__nulls").as("n_nulls"),
        col(s"${f.name}__nd").as("n_distinct"),
        col(s"${f.name}__min_num").as("min_num"),
        col(s"${f.name}__max_num").as("max_num"),
        col(s"${f.name}__min_str").as("min_str"),
        col(s"${f.name}__max_str").as("max_str"))
    }
    wide
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Row cap for the EXACT profile: per-column exact count-distincts
    * share one Expand pass whose shuffle grows with rows × columns —
    * the one plan in the quality tier that spilled at the 100× probe.
    * Above the cap the profiler auto-routes to the KMV-NDV plan
    * (sketch state only, no Expand), mirroring Dedup.ExactDocCap's
    * exact-anchor→sketch discipline; a logged Downgrade records the
    * switch. Spec-asserted (QuadraticGuardSpec).
    */
  private[graft] val ProfileExactCap = 1000000L

  // ------------------------------------------------- join-strategy advisory

  /** The broadcast threshold the advisory prices against — Spark's
    * `spark.sql.autoBroadcastJoinThreshold` default (10 MiB), as a
    * constant so the oracle computes the identical verdict.
    */
  private val BroadcastThresholdBytes = 10485760L

  /** Modeled relational join-graph tables: name → (fixed-width column
    * count, string columns). Fixed-width columns are priced at a uniform
    * 8 bytes; string columns at their ACTUAL total character length —
    * the estimate is a size MODEL over the spec-pinned read surface
    * (TablesSchemaSpec's contract), not parquet bytes on disk, which
    * compression makes meaningless for in-memory build-side sizing.
    */
  private val JoinTableSpec: Seq[(String, Int, Seq[String])] = Seq(
    ("region", 1, Seq("r_name")),
    ("nation", 2, Seq("n_name")),
    ("supplier", 3, Seq("s_name")),
    ("customer", 3, Seq("c_name", "c_mktsegment")),
    ("part", 2, Seq("p_name", "p_brand", "p_type")),
    ("orders", 3, Seq("o_orderstatus", "o_orderpriority")),
    ("lineitem", 9, Seq("l_returnflag", "l_linestatus")))

  /** Join-strategy advisory: for every join-graph table, its row count,
    * modeled build-side bytes, and the broadcast-vs-shuffle verdict at
    * Spark's default threshold — the optimizer's J1 decision surfaced
    * as DATA. A 100 TB deployment runs exactly this before pinning
    * `broadcast()` hints or raising the threshold: dimension tables that
    * fit broadcast make every fact join shuffle-free on the dim side,
    * and a table drifting past the threshold is a planning regression
    * you want in a report, not discovered in a 3-hour stage. One
    * column-pruned scan per table; integer arithmetic end-to-end, so the
    * verdict is bit-identical across engines.
    */
  def joinStrategyReport(spark: SparkSession, dir: String): DataFrame =
    JoinTableSpec.map { case (t, nFixed, strCols) =>
      val sumLens: Column = strCols
        .map(c => coalesce(sum(length(col(c))), lit(0L)))
        .reduce(_ + _)
      Tables
        .table(spark, dir, t)
        .agg(count(lit(1)).as("n_rows"), sumLens.as("str_bytes"))
        .select(
          lit(t).as("tbl"),
          col("n_rows"),
          (col("n_rows") * (8L * nFixed) + col("str_bytes")).as("est_bytes"))
    }.reduce(_ unionAll _)
      .select(
        col("tbl"), col("n_rows"), col("est_bytes"),
        when(col("est_bytes") <= BroadcastThresholdBytes, "broadcast")
          .otherwise("shuffle").as("strategy"))
      .orderBy(col("est_bytes"), col("tbl"))

  /** DuckDB twin of joinStrategyReport, generated from the SAME table
    * spec so the modeled column set can never drift between engines.
    */
  private val joinStrategyReportSql = {
    val arms = JoinTableSpec.map { case (t, nFixed, strCols) =>
      val lens = strCols.map(c => s"COALESCE(SUM(length($c)), 0)").mkString(" + ")
      s"""  SELECT '$t' AS tbl, count(*) AS n_rows,
         |         CAST(count(*) * ${8L * nFixed} + $lens AS BIGINT) AS est_bytes
         |  FROM $t""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH s AS (
       |$arms
       |)
       |SELECT tbl, n_rows, est_bytes,
       |       CASE WHEN est_bytes <= $BroadcastThresholdBytes
       |            THEN 'broadcast' ELSE 'shuffle' END AS strategy
       |FROM s
       |ORDER BY est_bytes, tbl""".stripMargin
  }

  def ordersProfile(spark: SparkSession, dir: String): DataFrame =
    ordersProfileGuarded(spark, dir, ProfileExactCap)

  private[graft] def ordersProfileGuarded(
      spark: SparkSession, dir: String, cap: Long): DataFrame = {
    val n = Tables.cachedCount(spark, dir, "orders")
    if (n > cap)
      graft.Downgrades.record("orders_profile", "kmv-ndv profile", n, cap)
    // scan-fan (guide §2.5): the exact profile's Expand multiplies every
    // scanned row by (distinct-columns + 1) and feeds a wide partial
    // aggregate — on a single-row-group source all of that runs on one
    // core without the bounded fan (no-op at scale)
    tableProfile(
      graft.Scans.fanSmall(spark, Tables.orders(spark, dir), dir, "orders"),
      exactDistinct = n <= cap)
  }

  private val ordersProfileSql = {
    def one(c: String, kind: String) = {
      val (minNum, maxNum, minStr, maxStr) = kind match {
        case "num" =>
          (Det.roundSql(s"CAST(min($c) AS DOUBLE)", 6),
           Det.roundSql(s"CAST(max($c) AS DOUBLE)", 6),
           "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case "ts" =>
          ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
           s"strftime(min($c), '%Y-%m-%d %H:%M:%S')",
           s"strftime(max($c), '%Y-%m-%d %H:%M:%S')")
        case _ =>
          ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
           s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
      }
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |       count(*) - count($c) AS n_nulls,
         |       count(DISTINCT $c) AS n_distinct,
         |       $minNum AS min_num, $maxNum AS max_num,
         |       $minStr AS min_str, $maxStr AS max_str
         |FROM orders""".stripMargin
    }
    Seq(
      one("o_orderkey", "num"), one("o_custkey", "num"),
      one("o_orderstatus", "str"), one("o_totalprice", "num"),
      one("o_orderdate", "ts"), one("o_orderpriority", "str"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ------------------------------------------------- sketch-NDV profile

  private val ProfileKmvK = 256

  /** The 100 TB form of the profiler: per-column distinct counts come
    * from the mergeable KMV sketch instead of exact count-distinct, so
    * the single-pass aggregate carries k minimum hashes per column and
    * NO Expand — this is the concrete fix for the one probe that
    * spilled (orders_profile moved ~20 GiB at 100×; this plan's state
    * is k·|columns| longs regardless of scale). Each column is first
    * reduced to a portable 60-bit hash of a canonical serialization
    * (doubles via DECIMAL(18,2) so no engine-specific float rendering),
    * which the oracle replays hash-for-hash — the ESTIMATES are
    * hash-compared, not bounded.
    */
  def ordersProfileSketch(spark: SparkSession, dir: String): DataFrame = {
    val kmv = graft.functions.KmvDistinct.udf(ProfileKmvK)
    val sers: Seq[(String, Column)] = Seq(
      "o_orderkey"      -> col("o_orderkey").cast("string"),
      "o_custkey"       -> col("o_custkey").cast("string"),
      "o_orderstatus"   -> col("o_orderstatus"),
      "o_totalprice"    -> col("o_totalprice").cast(Det.Money).cast("string"),
      "o_orderdate"     -> date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
      "o_orderpriority" -> col("o_orderpriority"))
    // scan-fan (guide §2.5): six md5-h60 serializations per row is
    // per-row CPU work that otherwise runs on the source's single task
    val hashed = graft.Scans
      .fanSmall(spark, Tables.orders(spark, dir), dir, "orders")
      .select(sers.map { case (n, c) =>
        Det.md5h60Col(c).cast("long").as(s"${n}__h")
      }: _*)
    val aggs = sers.map { case (n, _) => kmv(col(s"${n}__h")).as(s"${n}__ndv") }
    val wide = hashed.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = sers.map { case (n, _) =>
      struct(
        lit(n).as("col_name"),
        col("__n").as("n_rows"),
        Det.detRound(col(s"${n}__ndv"), 2).as("kmv_ndv"))
    }
    wide
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  private val ordersProfileSketchSql = {
    val k = ProfileKmvK
    def ser(c: String, kind: String) = kind match {
      case "num" => s"CAST($c AS VARCHAR)"
      case "dec" => s"CAST(CAST($c AS DECIMAL(18,2)) AS VARCHAR)"
      case "ts"  => s"strftime($c, '%Y-%m-%d %H:%M:%S')"
      case _     => c
    }
    // the aggregator hashes its (already portable-hashed) long input
    // again via md5-h60 of the decimal string — replay both layers
    def one(c: String, kind: String) = {
      val h1 = s"('0x' || substr(md5(${ser(c, kind)}), 1, 15))::BIGINT"
      val h2 = s"('0x' || substr(md5(CAST($h1 AS VARCHAR)), 1, 15))::BIGINT"
      s"""SELECT '$c' AS col_name,
         |       (SELECT count(*) FROM orders) AS n_rows,
         |       (SELECT ${Det.roundSql(
          s"CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE) " +
            s"WHEN max(CASE WHEN rn = $k THEN h2 END) IS NULL THEN NULL " +
            s"ELSE CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) " +
            s"/ CAST(max(CASE WHEN rn = $k THEN h2 END) AS DOUBLE) END", 2)}
         |        FROM (
         |          SELECT h2, row_number() OVER (ORDER BY h2) AS rn
         |          FROM (SELECT DISTINCT $h2 AS h2 FROM orders)
         |        ) r WHERE rn <= $k) AS kmv_ndv""".stripMargin
    }
    Seq(
      one("o_custkey", "num"), one("o_orderdate", "ts"),
      one("o_orderkey", "num"), one("o_orderpriority", "str"),
      one("o_orderstatus", "str"), one("o_totalprice", "dec"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ------------------------------------------------------------- FK orphans

  /** Referential-integrity audit over the whole star schema: for every
    * foreign-key edge, the child row count and the number of child rows
    * whose key has no parent (left-anti join). All-zero orphans on clean
    * data is the point — this is the continuously-run invariant check.
    */
  def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    def edge(
        rel: String,
        child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      // ONE scan per edge: a left join against the (unique) parent key
      // yields the child count and the orphan count from the same pass —
      // the anti-join + separate count form read the child twice
      child
        .join(parent.select(col(pk)), col(fk) === col(pk), "left")
        .agg(
          count(lit(1)).as("n_child"),
          sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(rel).as("rel"), col("n_child"), col("n_orphans"))
    val li = Tables.lineitem(spark, dir)
    val or = Tables.orders(spark, dir)
    Seq(
      edge("customer->nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"),
      edge("lineitem->orders", li, "l_orderkey", or, "o_orderkey"),
      edge("lineitem->part", li, "l_partkey", Tables.part(spark, dir), "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"),
      edge("nation->region", Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir), "r_regionkey"),
      edge("orders->customer", or, "o_custkey",
        Tables.customer(spark, dir), "c_custkey"),
      edge("supplier->nation", Tables.supplier(spark, dir), "s_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
      .reduce(_ unionByName _)
      .orderBy(col("rel"))
  }

  private val fkOrphansSql = {
    def one(rel: String, child: String, fk: String, parent: String, pk: String) =
      s"""SELECT '$rel' AS rel,
         |       (SELECT count(*) FROM $child) AS n_child,
         |       count(*) AS n_orphans
         |FROM $child c
         |WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)""".stripMargin
    Seq(
      one("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      one("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      one("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      one("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      one("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      one("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      one("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY rel")
  }

  // ---------------------------------------------------------- snapshot diff

  private val DiffCutA = "1997-01-01"
  private val DiffCutB = "1997-07-01"

  /** Change-feed derivation: two versions of the per-customer order
    * aggregate (as of `DiffCutA` vs `DiffCutB`) full-outer joined on the
    * key; rows whose measures changed become the feed, labeled insert /
    * update (delete can't occur in an append-only source but the branch
    * is in the CASE — a diff engine must classify it). Both sides are
    * key-sized aggregate STATES, so the diff never rescans facts beyond
    * the one aggregation pass each state already paid.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    def state(cut: String): DataFrame =
      orders
        .filter(col("o_orderdate") < cut)
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(Det.Money)).as("v"))
    val a = state(DiffCutA)
      .select(col("o_custkey"), col("n").as("n_a"), col("v").as("v_a"))
    val b = state(DiffCutB)
      .select(col("o_custkey"), col("n").as("n_b"), col("v").as("v_b"))
    a.join(b, Seq("o_custkey"), "full_outer")
      .filter(
        col("n_a").isNull || col("n_b").isNull ||
          col("n_a") =!= col("n_b") || col("v_a") =!= col("v_b"))
      .select(
        col("o_custkey").as("custkey"),
        when(col("n_a").isNull, "insert")
          .when(col("n_b").isNull, "delete")
          .otherwise("update")
          .as("op"),
        coalesce(col("n_a"), lit(0L)).as("n_old"),
        coalesce(col("n_b"), lit(0L)).as("n_new"),
        Det.detRound(
          (coalesce(col("v_b"), lit(0).cast(Det.Money)) -
            coalesce(col("v_a"), lit(0).cast(Det.Money))).cast("double"), 2)
          .as("delta_spent"))
      .orderBy(col("custkey"))
  }

  private val snapshotDiffSql =
    s"""WITH a AS (
       |  SELECT o_custkey, count(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
       |  FROM orders WHERE o_orderdate < DATE '$DiffCutA' GROUP BY o_custkey
       |), b AS (
       |  SELECT o_custkey, count(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
       |  FROM orders WHERE o_orderdate < DATE '$DiffCutB' GROUP BY o_custkey
       |)
       |SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
       |       CASE WHEN a.o_custkey IS NULL THEN 'insert'
       |            WHEN b.o_custkey IS NULL THEN 'delete'
       |            ELSE 'update' END AS op,
       |       COALESCE(a.n, 0) AS n_old,
       |       COALESCE(b.n, 0) AS n_new,
       |       ${Det.roundSql(
        "CAST(COALESCE(b.v, 0) - COALESCE(a.v, 0) AS DOUBLE)", 2)} AS delta_spent
       |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
       |WHERE a.o_custkey IS NULL OR b.o_custkey IS NULL
       |   OR a.n <> b.n OR a.v <> b.v
       |ORDER BY custkey""".stripMargin

  // --------------------------------------------------------- table checksum

  /** 2^61 — the fold modulus keeps the running sum inside BIGINT when
    * the decimal total is reduced, while preserving 61 bits of
    * collision resistance per table.
    */
  private val ChecksumMod = "2305843009213693952"

  /** Order-independent content checksum per table — the anti-entropy
    * check two replicas (or a migration source and target) run to prove
    * they hold the same rows without moving any data: each row is
    * reduced to a portable 60-bit hash of its canonical serialization,
    * and the table's signature is (row count, SUM(hash) mod 2^61).
    * Addition is commutative/associative, so partition order, file
    * order and engine never matter, and partial checksums from
    * different shards merge by addition — the 100 TB shape (one scan,
    * tiny partial state, no payload shuffle). Serialization uses
    * delimiter-joined string casts of integer/string/timestamp columns
    * only (doubles are excluded: their string rendering is
    * engine-specific, which would make the checksum compare the
    * formatter, not the data).
    */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    // NOT scan-fanned: measured A/B showed the bounded fan's extra
    // exchange costs more than the md5 serialization saves here (the
    // partial sum already collapses map-side; the row payload is wide)
    def sig(name: String, df: DataFrame): DataFrame = {
      df.select(Det.md5h60Col(col("__ser")).as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("hs"))
        .select(
          lit(name).as("table_name"),
          col("n_rows"),
          (col("hs") % expr(s"CAST($ChecksumMod AS DECIMAL(38,0))"))
            .cast("long")
            .as("checksum"))
    }

    def withSer(df: DataFrame, ser: Column): DataFrame =
      df.withColumn("__ser", ser)

    val orders = withSer(
      Tables.orders(spark, dir),
      concat_ws("|",
        col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
        col("o_orderpriority")))
    val customer = withSer(
      Tables.customer(spark, dir),
      concat_ws("|",
        col("c_custkey").cast("string"),
        col("c_name"),
        col("c_nationkey").cast("string")))
    val lineitem = withSer(
      Tables.lineitem(spark, dir),
      concat_ws("|",
        col("l_orderkey").cast("string"),
        col("l_partkey").cast("string"),
        col("l_suppkey").cast("string"),
        col("l_quantity").cast("bigint").cast("string")))
    Seq(
      sig("customer", customer),
      sig("lineitem", lineitem),
      sig("orders", orders))
      .reduce(_ unionByName _)
      .orderBy(col("table_name"))
  }

  private val tableChecksumSql = {
    def one(name: String, table: String, ser: String) =
      s"""SELECT '$name' AS table_name, count(*) AS n_rows,
         |       CAST(SUM(('0x' || substr(md5($ser), 1, 15))::BIGINT)
         |            % $ChecksumMod AS BIGINT) AS checksum
         |FROM $table""".stripMargin
    Seq(
      one("customer", "customer",
        "concat_ws('|', CAST(c_custkey AS VARCHAR), c_name, CAST(c_nationkey AS VARCHAR))"),
      one("lineitem", "lineitem",
        "concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR), " +
          "CAST(l_suppkey AS VARCHAR), CAST(CAST(l_quantity AS BIGINT) AS VARCHAR))"),
      one("orders", "orders",
        "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), " +
          "o_orderstatus, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), o_orderpriority)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  // ----------------------------------------------------------- key skew report

  /** The (table, key column) pairs the engine's own joins shuffle on —
    * exactly the keys whose distribution decides broadcast vs shuffle vs
    * salt at plan time.
    */
  private val SkewKeys: Seq[(String, String)] = Seq(
    "lineitem"  -> "l_orderkey",
    "lineitem"  -> "l_partkey",
    "orders"    -> "o_custkey",
    "events"    -> "user_id",
    "documents" -> "source")

  /** Heavy-hitter join-key diagnostic: for each audited (table, key),
    * the top-3 hottest key values with their row share, plus the key
    * cardinality and a skew ratio (max group ÷ mean group; 1.0 =
    * uniform). This is the report that justifies every
    * broadcast()/salting decision the engine makes — run it before
    * choosing a join strategy at a new scale, not after the stage OOMs.
    *
    * Scale shape: one map-side-combinable count per audited key; the
    * per-(table, key) totals are a |SkewKeys|-row aggregate broadcast-
    * joined back, and top-3 runs on the bounded-heap TopKPerKey
    * operator — no window ever sees the full key-sized frame. Nothing
    * fact-sized moves: the shuffle carries (key, count) partials only.
    * NULL key values are reported as the '<null>' group — in a skew
    * audit the null key is often THE hot key, and folding it into a
    * printable sentinel also keeps the top-3 tie-break engine-portable
    * (Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST).
    */
  def keySkewReport(spark: SparkSession, dir: String): DataFrame = {
    val perRel = SkewKeys.map { case (tbl, key) =>
      // events goes through its normalizing loader: a raw scan fails
      // schema inference outright under the INT64 TIMESTAMP(NANOS)
      // encoding when the caller-built session lacks nanosAsLong
      (if (tbl == "events") Tables.events(spark, dir)
       else Tables.table(spark, dir, tbl))
        .groupBy(coalesce(col(key).cast("string"), lit("<null>")).as("key_val"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit(tbl).as("rel"), lit(key).as("key_col"), col("key_val"), col("cnt"))
    }
    // counted feeds the stats aggregate AND the top-3 heaps — pin the
    // key-sized frame to one computation
    val counted = perRel.reduce(_ unionAll _).cutLineage(eager = false)
    // per-(rel, key_col) totals as a |SkewKeys|-row aggregate joined
    // back broadcast — NOT a window over the full counts frame, which
    // would funnel every key of a table into one partition at 100 TB
    val stats = counted
      .groupBy(col("rel"), col("key_col"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).cast("long").as("n_rows"),
        max(col("cnt")).cast("long").as("max_cnt"))
    org.apache.spark.sql.graft.TopK
      .perKey(
        counted,
        Seq("rel", "key_col"),
        Seq("cnt" -> false, "key_val" -> true),
        k = 3,
        rankName = "rk")
      .join(broadcast(stats), Seq("rel", "key_col"))
      .select(
        col("rel"), col("key_col"), col("rk"), col("key_val"), col("cnt"),
        Det.detRound(col("cnt").cast("double") / col("n_rows"), 6).as("share"),
        col("n_keys"), col("n_rows"),
        // max÷mean group size
        Det.detRound(
          col("max_cnt").cast("double") * col("n_keys") / col("n_rows"),
          4).as("skew_ratio"))
      .orderBy(col("rel"), col("key_col"), col("rk"))
  }

  private val keySkewReportSql = {
    val blocks = SkewKeys
      .map { case (tbl, key) =>
        s"""SELECT '$tbl' AS rel, '$key' AS key_col,
           |       COALESCE(CAST($key AS VARCHAR), '<null>') AS key_val,
           |       count(*) AS cnt
           |FROM $tbl GROUP BY 3""".stripMargin
      }
      .mkString("\nUNION ALL\n")
    s"""WITH counted AS (
       |$blocks
       |), stats AS (
       |  SELECT *,
       |         count(*) OVER (PARTITION BY rel, key_col) AS n_keys,
       |         SUM(cnt) OVER (PARTITION BY rel, key_col) AS n_rows,
       |         MAX(cnt) OVER (PARTITION BY rel, key_col) AS max_cnt,
       |         row_number() OVER (PARTITION BY rel, key_col
       |                            ORDER BY cnt DESC, key_val) AS rk
       |  FROM counted
       |)
       |SELECT rel, key_col, rk, key_val,
       |       CAST(cnt AS BIGINT) AS cnt,
       |       ${Det.roundSql("CAST(cnt AS DOUBLE) / n_rows", 6)} AS share,
       |       CAST(n_keys AS BIGINT) AS n_keys, CAST(n_rows AS BIGINT) AS n_rows,
       |       ${Det.roundSql("CAST(max_cnt AS DOUBLE) * n_keys / n_rows", 4)} AS skew_ratio
       |FROM stats
       |WHERE rk <= 3
       |ORDER BY rel, key_col, rk""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "join_strategy_report" -> QueryDef(joinStrategyReport, Some(joinStrategyReportSql)),
    "key_skew_report" -> QueryDef(keySkewReport, Some(keySkewReportSql)),
    "orders_profile" -> QueryDef(ordersProfile, Some(ordersProfileSql)),
    "orders_profile_sketch" -> QueryDef(ordersProfileSketch, Some(ordersProfileSketchSql)),
    "fk_orphans"     -> QueryDef(fkOrphans, Some(fkOrphansSql)),
    "table_checksum" -> QueryDef(tableChecksum, Some(tableChecksumSql)),
    "snapshot_diff"  -> QueryDef(snapshotDiff, Some(snapshotDiffSql)))
}
