package graft.sources

import graft.{Det, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-side parity with the reference's load pipeline
  * (SURVEY.md §2.1): multiline-JSON → schema'd DataFrame → partitioned,
  * range-ordered parquet. The reference's HBase rowkey
  * `user_id|start_time|session_id` (load_hbase_sessions_stream.py:34–38)
  * is a physical-layout device for per-user prefix scans; the Spark
  * analog is partitioned parquet (`partitionBy` bucket column) plus
  * in-file ordering (`sortWithinPartitions`), which turns per-user
  * queries into partition-pruned, mostly-sorted scans.
  */
object Ingest {

  /** S1/S3/S13: multiline JSON array files → DataFrame with an explicit
    * schema (never inferred — schema-on-write discipline).
    */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("multiline", "true").schema(schema).json(path)

  /** S4/S5/O4: write a fact table as parquet partitioned by a derived
    * bucket of the entity key (bounded partition count at any scale) and
    * range-ordered within files by (entity, time) — the rowkey analog.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      entityCol: String,
      timeCol: String,
      buckets: Int): Unit = {
    df.withColumn("bucket", pmod(col(entityCol), lit(buckets)))
      .repartition(col("bucket"))
      .sortWithinPartitions(col(entityCol), col(timeCol))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(path)
  }

  /** The prefix-scan read path over the partitioned layout: the bucket
    * predicate prunes partitions (directory-level skip) before any file
    * is opened; the entity predicate pushes to the parquet reader.
    */
  def readEntity(
      spark: SparkSession,
      path: String,
      entityCol: String,
      entityId: Long,
      buckets: Int): DataFrame =
    spark.read
      .parquet(path)
      .filter(col("bucket") === entityId % buckets && col(entityCol) === entityId)

  // ---------------------------------------------------------------------
  // S13 at entity fidelity: generator-shaped session documents (nested
  // page_views array, viewed_products, cart_contents MAP —
  // ref:data_generator.py:301-318's session_doc) round-tripped through
  // the reference's ingest format (chunked multiline-JSON ARRAY files,
  // the shape json.dump produces per chunk) into parquet, then COUNT-
  // VERIFIED against the source — the PDF §7.1.5 "verify the counts"
  // practice as a registered, oracle-checked query.
  // ---------------------------------------------------------------------

  /** Explicit schema of the session documents — schema-on-write, never
    * inferred (inference would silently widen on a bad chunk).
    */
  private[graft] val SessionDocSchema = StructType(Seq(
    StructField("session_id", StringType),
    StructField("user_id", LongType),
    StructField("start_time", StringType),
    StructField("end_time", StringType),
    StructField("duration_seconds", LongType),
    StructField("viewed_products", ArrayType(LongType)),
    StructField("page_views", ArrayType(StructType(Seq(
      StructField("ts", LongType),
      StructField("page_type", StringType),
      StructField("value", DoubleType))))),
    StructField("cart_contents", MapType(StringType, StructType(Seq(
      StructField("quantity", LongType),
      StructField("price", DoubleType))))),
    StructField("conversion_status", StringType),
    StructField("referrer", StringType)))

  /** Generator-shaped session documents derived DETERMINISTICALLY from
    * the events table (one doc per user): page_views = the user's events
    * ordered by (ts, event_id); viewed_products = the distinct props.k
    * ids; cart_contents = per-event-type {quantity, price} map (the
    * reference's product→{quantity, price} cart map, with event_type as
    * the key stand-in); conversion_status mirrors the generator's
    * converted/abandoned/browsed trichotomy. Two aggregations over
    * events (per-user and per-(user, type)) joined on the user key —
    * both user-sized, map-side combinable, no fact-sized shuffle beyond
    * the grouping passes.
    */
  def sessionDocs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        Det.detRound(col("value"), 2).as("value"),
        // the engine-portable props.k extraction (events_props_json's
        // pattern — regexp on both engines, not engine JSON functions)
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"))
    val perUser = e
      .groupBy(col("user_id"))
      .agg(
        min(col("ts")).as("t0"),
        max(col("ts")).as("t1"),
        sort_array(collect_list(struct(
          col("ts"), col("event_id"), col("event_type"), col("value")))).as("pv"),
        sort_array(collect_set(col("k"))).as("viewed_products"))
    val cart = e
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("quantity"),
        Det.detRound(Det.moneySum(col("value")), 2).as("price"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(sort_array(collect_list(struct(
        col("event_type"),
        struct(col("quantity"), col("price")))))).as("cart_contents"))
    perUser
      .join(cart, "user_id")
      .select(
        concat(lit("sess-"), col("user_id")).as("session_id"),
        col("user_id"),
        date_format(timestamp_micros(col("t0")), "yyyy-MM-dd HH:mm:ss").as("start_time"),
        date_format(timestamp_micros(col("t1")), "yyyy-MM-dd HH:mm:ss").as("end_time"),
        expr("(t1 - t0) div 1000000").as("duration_seconds"),
        col("viewed_products"),
        expr("transform(pv, x -> struct(x.ts AS ts, x.event_type AS page_type, x.value AS value))")
          .as("page_views"),
        col("cart_contents"),
        when(expr("exists(pv, x -> x.event_type = 'purchase')"), "converted")
          .when(expr("exists(pv, x -> x.event_type = 'click')"), "abandoned")
          .otherwise("browsed").as("conversion_status"),
        lit("direct").as("referrer"))
  }

  /** Rows a single JSON chunk file targets. A multiline JSON ARRAY file
    * is necessarily read by ONE task (the array spans the file), so the
    * re-read's parallelism equals the chunk count — it must grow with
    * the corpus, not stay a constant.
    */
  private val ChunkRows = 250000L

  /** Build-once round-trip store: session docs → chunked multiline
    * JSON ARRAY files (each file is one `[ {...}, ... ]` array — the
    * generator's chunk format, assembled per partition so the publish
    * stays distributed) → [[readJson]] with the explicit schema →
    * parquet. Returns the stored layout (table `store`; the JSON chunks
    * stay under its dir as `json`). Chunk count scales with input size
    * (≈[[ChunkRows]] source rows per chunk, floor 4), and each
    * chunk streams row-by-row through the text writer — no partition
    * ever concatenates into a single in-memory string.
    */
  private[graft] def roundtripStore(spark: SparkSession, dir: String): DerivedCache.Stored = {
    val rows   = Tables.cachedCount(spark, dir, "events")
    val chunks = math.max(4L, (rows + ChunkRows - 1) / ChunkRows).toInt
    DerivedCache.tables(dir, "ingest-roundtrip", s"events=$rows;chunks=$chunks;v=2") { b =>
      import spark.implicits._
      sessionDocs(spark, dir)
        .repartition(chunks, col("user_id"))
        .toJSON
        .mapPartitions { it =>
          if (it.isEmpty) Iterator.empty
          else {
            // lazy one-row-lookahead: emits "row," for all but the last
            // row so the file is a valid JSON array, in O(1) memory
            val body = new Iterator[String] {
              private var pending = it.next()
              private var done    = false
              def hasNext: Boolean = !done
              def next(): String =
                if (it.hasNext) { val cur = pending; pending = it.next(); cur + "," }
                else { done = true; pending }
            }
            Iterator("[") ++ body ++ Iterator("]")
          }
        }
        .write.mode(SaveMode.Overwrite).text(s"${b.dir}/json")
      b.table("store", readJson(spark, s"${b.dir}/json", SessionDocSchema))
    }
  }

  /** The §7.1.5 count verification, over the ROUND-TRIPPED parquet (not
    * the source): entity count, nested page-view/viewed/cart-line
    * totals, cart quantity and 2-dp value sums, converted-session
    * count. The DuckDB oracle computes the same numbers from the RAW
    * events table — equality proves the JSON→parquet round trip
    * preserved every nested entity exactly.
    */
  def ingestRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = roundtripStore(spark, dir).read(spark, "store")
    val cartLines = docs.select(explode(col("cart_contents")).as(Seq("k", "v")))
    val base = docs.agg(
      count(lit(1)).as("n_sessions"),
      sum(size(col("page_views"))).as("n_page_views"),
      sum(size(col("viewed_products"))).as("n_viewed_products"),
      sum(when(col("conversion_status") === "converted", 1L).otherwise(0L))
        .as("n_converted"))
    val cartAgg = cartLines.agg(
      count(lit(1)).as("n_cart_lines"),
      sum(col("v.quantity")).as("cart_quantity"),
      Det.detRound(Det.moneySum(col("v.price")), 2).as("cart_value"))
    base.crossJoin(cartAgg)
  }

  private val ingestRoundtripSql =
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |         ${Det.roundSql("value", 2)} AS value,
       |         TRY_CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS BIGINT) AS k
       |  FROM events WHERE user_id IS NOT NULL
       |), per AS (
       |  SELECT user_id, event_type, count(*) AS quantity,
       |         ${Det.roundSql(
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS price
       |  FROM e GROUP BY 1, 2
       |), conv AS (
       |  SELECT user_id,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
       |  FROM e GROUP BY user_id
       |)
       |SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_sessions,
       |       (SELECT count(*) FROM e) AS n_page_views,
       |       (SELECT count(*) FROM (SELECT DISTINCT user_id, k FROM e WHERE k IS NOT NULL)) AS n_viewed_products,
       |       (SELECT CAST(SUM(purchased) AS BIGINT) FROM conv) AS n_converted,
       |       (SELECT count(*) FROM per) AS n_cart_lines,
       |       (SELECT CAST(SUM(quantity) AS BIGINT) FROM per) AS cart_quantity,
       |       (SELECT ${Det.roundSql(
        "CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)", 2)} FROM per) AS cart_value""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "ingest_roundtrip" -> QueryDef(ingestRoundtrip, Some(ingestRoundtripSql)))
}
