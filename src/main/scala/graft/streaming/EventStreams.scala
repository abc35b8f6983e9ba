package graft.streaming

import graft.{Det, QueryDef, Tables}
import graft.Ckpt.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time processing over the `events` stream. The transforms are
  * written against a plain DataFrame so the SAME code runs in batch
  * (Tables.events) and in Structured Streaming (spark.readStream) — the
  * Spark-native generalization of the reference's chunked/incremental
  * ingest (SURVEY.md §2.8: ijson chunks, batched HBase puts).
  *
  * Streaming usage (exercised in StreamingSpec):
  * {{{
  *   val stream = spark.readStream.schema(schema).parquet(dir)
  *   EventStreams.tumblingCounts(stream, "1 day", "1 hour")
  *     .writeStream.outputMode("append")...
  * }}}
  */
object EventStreams {

  /** `ts` → proper event-time timestamp column. Accepts the engine-wide
    * epoch-µs BIGINT convention (Tables.events output, rateToEvents) and
    * raw TIMESTAMP/_NTZ columns from un-normalized streaming reads of the
    * regenerated timestamp[us] parquet. NOTE: a BIGINT ts here means µs —
    * legacy-nanos parquet must enter through Tables.events (batch) or be
    * pre-normalized before streaming.
    */
  def withEventTime(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val t = events.schema("ts").dataType match {
      case LongType                          => expr("timestamp_micros(ts)")
      case TimestampType | TimestampNTZType  => col("ts").cast("timestamp")
      case other =>
        // fail loudly like Tables.events — a catch-all cast would turn
        // the next schema drift into silently-null event times (every
        // row dropped by the watermark) instead of a named error
        throw new IllegalArgumentException(
          s"events.ts: unsupported type $other for event-time streaming")
    }
    events.withColumn("event_time", t)
  }

  /** Adapter from Spark's built-in unbounded sources (`rate`,
    * `rate-micro-batch`: columns `timestamp`, `value`) to the engine's
    * events shape — the soak harness for the session windows and the
    * manifest view below without a message bus in the loop. Deterministic in `value`, so a
    * rate-micro-batch stream is fully reproducible.
    */
  def rateToEvents(rate: DataFrame, users: Long): DataFrame =
    rate.select(
      col("value").as("event_id"),
      unix_micros(col("timestamp")).as("ts"),
      pmod(col("value"), lit(users)).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("search")),
        (pmod(col("value"), lit(4)) + 1).cast("int")).as("event_type"),
      (pmod(col("value"), lit(10000)).cast("double") / 100.0).as("value"))

  /** Tumbling event-time window counts + value sums per event type.
    * In streaming mode the watermark bounds state and handles late data.
    */
  def tumblingCounts(events: DataFrame, width: String, watermark: String): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), width), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Det.detRound(Det.moneySum(col("value")), 2).as("total_value"))

  /** Gap-based session windows per user (streaming analog of
    * operators.Engagement.sessionize).
    */
  def sessionWindows(events: DataFrame, gap: String, watermark: String): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(
        count(lit(1)).as("n_events"),
        Det.detRound(Det.moneySum(col("value")), 2).as("total_value"))

  /** Batch-registered form: daily tumbling windows by event type, emitted
    * with string window bounds for cross-engine type stability. Oracle:
    * DuckDB time_bucket (same epoch alignment as Spark's window()).
    */
  def eventTimeWindows(spark: SparkSession, dir: String): DataFrame =
    tumblingCounts(Tables.events(spark, dir), "1 day", "0 seconds")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"),
        col("n_events"),
        col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  private val eventTimeWindowsSql =
    s"""SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       |       event_type,
       |       count(*) AS n_events,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin

  /** Sliding event-time windows (1 h wide, 30 min slide): each event
    * lands in exactly width/slide = 2 windows. Spark materializes the
    * window replication in-row before the aggregate (one shuffle of
    * per-window partials). Oracle: every event belongs to the windows
    * starting at floor30(ts) and floor30(ts) − 30 min — generated by a
    * 2-row offset cross join, which is exactly Spark's expansion.
    */
  def eventSlidingWindows(spark: SparkSession, dir: String): DataFrame =
    withEventTime(Tables.events(spark, dir))
      .groupBy(window(col("event_time"), "1 hour", "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        Det.detRound(Det.moneySum(col("value")), 2).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_events"),
        col("total_value"))
      .orderBy(col("window_start"))

  private val eventSlidingWindowsSql =
    s"""WITH expanded AS (
       |  SELECT time_bucket(INTERVAL '30 minutes', ts) - o.off * INTERVAL '30 minutes' AS ws,
       |         value
       |  FROM events, (VALUES (0), (1)) AS o(off)
       |)
       |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       |       count(*) AS n_events,
       |       ${Det.roundSql("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS total_value
       |FROM expanded
       |GROUP BY ws
       |ORDER BY window_start""".stripMargin

  /** Per-user interval join of two event streams: each view matched to
    * the same user's clicks in (view, view + horizon]. In streaming this
    * is the canonical stream-stream join — both sides buffer watermarked
    * state and the time bound lets Spark GC it; in batch it is an
    * equi-join on user_id with a residual band predicate (no range
    * explosion). StreamingSpec drives the same function through
    * readStream on both sides.
    */
  def viewClickPairs(views: DataFrame, clicks: DataFrame, horizonMin: Int = 10): DataFrame = {
    val v = withEventTime(views)
      .withWatermark("event_time", "1 hour")
      .select(
        col("user_id").as("v_user"),
        col("event_id").as("view_id"),
        col("event_time").as("v_time"))
    val c = withEventTime(clicks)
      .withWatermark("event_time", "1 hour")
      .select(
        col("user_id").as("c_user"),
        col("event_id").as("click_id"),
        col("event_time").as("c_time"))
    v.join(
      c,
      col("v_user") === col("c_user") &&
        col("c_time") > col("v_time") &&
        col("c_time") <= col("v_time") + expr(s"INTERVAL $horizonMin MINUTES"))
  }

  /** Batch-registered aggregate over the interval join: pair count,
    * matched-view count (two-stage distinct) and exact mean
    * view→click latency. Oracle: the same join in ANSI SQL on µs
    * timestamps.
    */
  def viewClickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val pairs = viewClickPairs(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"))
      .select(
        col("view_id"),
        (unix_micros(col("c_time")) - unix_micros(col("v_time"))).as("lat_us"))
    val perView = pairs
      .groupBy(col("view_id"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("lat_us")).as("lat_sum"))
    perView.agg(
      sum(col("n_clicks")).as("n_pairs"),
      count(lit(1)).as("n_views_matched"),
      Det.detRound(
        sum(col("lat_sum")).cast("double") / sum(col("n_clicks")) / 1e6, 6)
        .as("avg_latency_sec"))
  }

  private val viewClickAttributionSql =
    s"""WITH v AS (
       |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vt
       |  FROM events WHERE event_type = 'view'
       |), c AS (
       |  SELECT user_id, epoch_us(ts) AS ct
       |  FROM events WHERE event_type = 'click'
       |), p AS (
       |  SELECT v.view_id, c.ct - v.vt AS lat_us
       |  FROM v JOIN c ON v.user_id = c.user_id
       |  WHERE c.ct > v.vt AND c.ct <= v.vt + 600000000
       |)
       |SELECT count(*) AS n_pairs,
       |       count(DISTINCT view_id) AS n_views_matched,
       |       ${Det.roundSql("CAST(SUM(lat_us) AS DOUBLE) / count(*) / 1e6", 6)} AS avg_latency_sec
       |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // Manifest-committed incremental view of per-user totals: exactly-once
  // AND O(touched buckets) per batch — a mini transaction log over a
  // hash-bucketed parquet view. Layout:
  //
  //   viewDir/v=<batchId>/bkt=<b>/part-*.parquet   (fresh dir per batch;
  //                                                 only touched buckets)
  //   viewDir._manifest    line 1: <committedBatchId>
  //                        then one "<bucket> <version>" line per bucket,
  //                        mapping it to the version dir holding its
  //                        CURRENT rows.
  //
  // Commit = write-temp + ATOMIC_MOVE of the manifest — one atomic commit
  // point covering every bucket the batch rewrote. A crash anywhere
  // before the move leaves the previous manifest: readers (which only
  // ever resolve paths through the manifest) can never observe a torn
  // multi-bucket write. Batches write to FRESH v=<batchId> dirs, never
  // over a bucket a reader may be following; replayed batches are
  // skipped by the committed-id guard,
  // and a half-written v dir from a crashed attempt is clobbered by the
  // replay's overwrite then superseded. Superseded version dirs are
  // pruned best-effort after commit. Crash-injection spec: StreamingSpec.
  // ---------------------------------------------------------------------

  private def manifestPath(viewDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(viewDir.stripSuffix("/") + "._manifest")

  /** (committed batchId, bucket → version). (-1, empty) before first commit. */
  def readManifest(viewDir: String): (Long, Map[Int, Long]) = {
    val p = manifestPath(viewDir)
    if (!java.nio.file.Files.exists(p)) (-1L, Map.empty)
    else {
      val lines = new String(java.nio.file.Files.readAllBytes(p)).linesIterator.toSeq
      val m = lines.drop(1).filter(_.nonEmpty).map { l =>
        val Array(b, v) = l.split(' '); b.toInt -> v.toLong
      }.toMap
      (lines.head.trim.toLong, m)
    }
  }

  private def writeManifest(
      viewDir: String, batchId: Long, m: Map[Int, Long]): Unit = {
    val p    = manifestPath(viewDir)
    val tmp  = java.nio.file.Paths.get(p.toString + ".tmp")
    val body = (batchId.toString +: m.toSeq.sortBy(_._1)
      .map { case (b, v) => s"$b $v" }).mkString("\n")
    java.nio.file.Files.write(tmp, body.getBytes)
    java.nio.file.Files.move(
      tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** The committed state of the manifest view — the only read path.
    * One parquet read over the per-bucket leaf dirs the manifest names;
    * basePath recovers `bkt` as a column, the version dir is dropped.
    */
  def manifestView(spark: SparkSession, viewDir: String): DataFrame = {
    val (committed, m) = readManifest(viewDir)
    require(committed >= 0, s"no committed manifest under $viewDir")
    if (m.isEmpty)
      // a committed manifest can map ZERO buckets (e.g. batch 0 of a
      // rate stream carries no rows) — the committed view is empty,
      // and readers must see that, not a no-paths read crash. The shape
      // comes from the SAME partial-aggregate + canonical-select chain
      // the writer uses (applied to an empty source), so a writer-side
      // schema change can never leave batch-0 readers on a stale DDL.
      canonicalView(manifestPartial(
        spark.range(0).select(col("id").as("user_id"), lit(0.0).as("value")),
        buckets = 1))
    else {
      val paths = m.toSeq.sortBy(_._1)
        .map { case (b, v) => s"$viewDir/v=$v/bkt=$b" }
      spark.read.option("basePath", viewDir).parquet(paths: _*).drop("v")
    }
  }

  /** The view's partial aggregate — ONE definition shared by the writer
    * (mergeManifestBatch) and the empty-manifest read path
    * (manifestView), so the two schemas cannot drift apart.
    */
  private def manifestPartial(batch: DataFrame, buckets: Int): DataFrame =
    batch
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(Det.Money)).as("total_value"))
      .withColumn("bkt", pmod(hash(col("user_id")), lit(buckets)))

  /** Canonical physical row shape of every version dir — shared by the
    * writer's final select and the empty read path.
    */
  private def canonicalView(df: DataFrame): DataFrame =
    df.select(
      col("user_id").cast("long").as("user_id"),
      col("n_events").cast("long").as("n_events"),
      col("total_value").cast("decimal(28,2)").as("total_value"),
      col("bkt").cast("int").as("bkt"))

  /** One micro-batch of the manifest view: the body a stream's
    * `foreachBatch` calls with its (batch, batchId) — StreamSoak and the
    * specs do — and the crash-injection spec drives directly. `crashHook` runs
    * after the bucket data is fully written but BEFORE the manifest
    * commit — the widest torn-view window the protocol must survive.
    */
  private[graft] def mergeManifestBatch(
      batch: DataFrame, viewDir: String, buckets: Int, batchId: Long,
      crashHook: () => Unit = () => ()): Unit = {
    val spark = batch.sparkSession
    val (committed, manifest) = readManifest(viewDir)
    if (batchId <= committed) () // replayed micro-batch: already merged
    else {
      val partial = manifestPartial(batch, buckets)
        // ONE source scan: the partial feeds two actions (touched-bucket
        // collect + the merged write) — without materializing it the
        // batch aggregation recomputes per action, and on a source that
        // is not perfectly replayable the two passes could even disagree
        .cutLineage()
      // bounded driver collect: at most `buckets` ints
      val touched = partial.select(col("bkt")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val prevPaths = touched.filter(manifest.contains)
        .map(b => s"$viewDir/v=${manifest(b)}/bkt=$b")
      val merged =
        if (prevPaths.nonEmpty)
          spark.read.option("basePath", viewDir).parquet(prevPaths: _*)
            .drop("v")
            .unionByName(partial)
            .groupBy(col("user_id"), col("bkt"))
            .agg(
              sum(col("n_events")).as("n_events"),
              sum(col("total_value")).as("total_value"))
        else partial
      canonicalView(merged)
        // overwrite: a crashed prior attempt at this batchId may have
        // left a half-written v dir — the replay clobbers it
        .write.mode("overwrite")
        .partitionBy("bkt")
        .parquet(s"$viewDir/v=$batchId")
      crashHook()
      val next = manifest ++ touched.map(_ -> batchId)
      writeManifest(viewDir, batchId, next) // the ONLY commit point
      // prune version dirs no manifest entry references any more
      // (best-effort; readers resolve through the manifest, so a
      // leftover dir is garbage, not a hazard)
      val live = next.values.toSet + batchId
      Option(new java.io.File(viewDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v="))
        .filterNot(f => live.contains(f.getName.stripPrefix("v=").toLong))
        .foreach(graft.sources.DerivedCache.deleteRecursively)
    }
  }

  /** Streaming twin of `conversion_funnel` (the stream_ts_anomaly
    * pattern): events arrive as a bounded file stream, each micro-batch
    * folds to per-user stage-count partials (plain sums — mergeable for
    * ANY stream partitioning), the checkpointed foreachBatch appends
    * them exactly-once, and the finish pass re-merges by user and runs
    * the same global funnel fold as the batch query — so the result
    * equals conversion_funnel and shares its DuckDB oracle verbatim.
    *
    * 100 TB shape: per-batch cost ∝ batch size, appended state is
    * ≤ distinct-users-per-batch rows (not raw events), and the funnel
    * scoring reads the merged state, never the event history.
    */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Extended
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_type"))
    val rows = Tables.cachedCount(spark, dir, "events")
    val srcDir = graft.sources.DerivedCache.dir(
      dir, "stream-funnel-src", s"rows=$rows;files=4") { out =>
      ev.repartition(4, col("user_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$out/files")
      ()
    } + "/files"
    def emptyPerUser = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("views", LongType),
          StructField("clicks", LongType),
          StructField("purchases", LongType))))
    }
    StreamRunner.runAvailableNow(
      spark,
      schema = ev.schema,
      srcDir = srcDir,
      maxFilesPerTrigger = 2,
      tmpPrefix = "graft-stream-funnel",
      mkHandler = outDir =>
        (batch, _) => {
          Extended.perUserStages(batch.toDF())
            .write.mode("append").parquet(outDir)
          ()
        },
      finish = partials =>
        Extended.funnelOf(
          partials
            .groupBy(col("user_id"))
            .agg(
              sum(col("views")).cast("long").as("views"),
              sum(col("clicks")).cast("long").as("clicks"),
              sum(col("purchases")).cast("long").as("purchases"))),
      empty = Extended.funnelOf(emptyPerUser))
  }

  val defs: Map[String, QueryDef] = Map(
    "event_time_windows"      -> QueryDef(eventTimeWindows, Some(eventTimeWindowsSql)),
    "event_sliding_windows"   -> QueryDef(eventSlidingWindows, Some(eventSlidingWindowsSql)),
    "stream_funnel"           -> QueryDef(
      streamFunnel, Some(graft.operators.Extended.conversionFunnelSql)),
    "view_click_attribution"  -> QueryDef(viewClickAttribution, Some(viewClickAttributionSql)))
}
