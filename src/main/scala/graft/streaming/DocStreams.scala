package graft.streaming

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions
import graft.sources.StoredIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming document pipeline: the ingest-side twin of the batch dedup
  * tier. A 100 TB crawl doesn't arrive as a table — it arrives as a
  * stream, and near-dup filtering belongs at ingest so duplicates never
  * reach storage.
  */
object DocStreams {

  /** Batch-checkable registration of the streaming ingest path: the
    * delta corpus (doc_id % 10 >= 8 — the same split dedup_incremental
    * uses) is re-published as a 4-file parquet stream and consumed with
    * Trigger.AvailableNow + maxFilesPerTrigger=2 — two micro-batches,
    * so the run exercises REAL micro-batch plumbing (multiple
    * foreachBatch calls with checkpointed progress), not one degenerate
    * batch, while keeping the per-batch plan-execution floor (~1 s at
    * sf0.1, size-independent) from dominating the bench number. Each
    * micro-batch probes the SAME stored base index as the batch query
    * (Dedup.incrementalProbe) and appends its verdicts. Because the
    * verdicts are per-delta-row independent, the union over any batch
    * partitioning is byte-identical to dedup_incremental's output, so
    * this query shares its DuckDB oracle — the streaming surface a
    * 100 TB crawl ingest runs: state lives in the stored index,
    * per-batch cost ∝ batch size.
    */
  def streamDedupIngest(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // every micro-batch probes the SAME stored base tables — read them
    // once and, when the index is measurably small, persist them for the
    // stream run so batch 2 reads cached partitions instead of
    // re-scanning the bucketed parquet. Size-gated (the fanSmall
    // convention): at 100 TB the index is corpus-sized, the gate fails,
    // and each batch streams the scans exactly as before — the cache is
    // a bounded-input optimization, never a memory bet at scale.
    val baseTables = graft.operators.Dedup.incrementalBaseTables(spark, dir)
    val cacheBase = graft.Scans.bytesOf(
      spark, StoredIndex.dir(spark, dir, graft.operators.Dedup.MinhashTier, StoredIndex.Base)
    ) <= graft.Scans.DefaultMaxFanBytes
    val delta = StoredIndex.deltaDocs(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    // the published 4-file stream source is deterministic per corpus —
    // build it once via DerivedCache (a production ingest's source
    // already exists; re-publishing per run is scaffolding cost)
    val rows = Tables.cachedCount(spark, dir, "documents")
    val srcDir = graft.sources.DerivedCache.dir(
      dir, "stream-dedup-src", s"rows=$rows;files=4") { out =>
      delta.repartition(4, col("doc_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$out/files")
      ()
    } + "/files"
    if (cacheBase) {
      baseTables._1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      baseTables._2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ()
    }
    val out = StreamRunner.runAvailableNow(
      spark,
      schema = delta.schema,
      srcDir = srcDir,
      maxFilesPerTrigger = 2,
      tmpPrefix = "graft-stream-dedup",
      mkHandler = outDir =>
        (batch, _) => {
          val (verdicts, sigs) = graft.operators.Dedup
            .incrementalProbe(spark, baseTables, batch.toDF(), deltaIsSmall = true)
          verdicts.write.mode("append").parquet(outDir)
          // no-op today (small-batch probes skip the persist), kept so a
          // future persistSigs change can't leak per-batch cached frames
          sigs.unpersist(blocking = false)
          ()
        },
      finish = _.orderBy(col("doc_id")),
      // zero-row delta: the stream ran no data batches — degrade to an
      // empty frame with the verdict schema (EmptyInputSpec contract)
      empty = {
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(
            StructField("doc_id", LongType),
            StructField("n_dups", LongType, nullable = false),
            StructField("dup_of", LongType),
            StructField("est", DoubleType),
            StructField("keep", BooleanType, nullable = false))))
      })
    if (cacheBase) {
      baseTables._1.unpersist(blocking = false)
      baseTables._2.unpersist(blocking = false)
      ()
    }
    out
  }

  /** Streaming leg of the substring-index LSM ingest — the append
    * probe (dedup_substring_index_append) driven from micro-batches:
    * today's batch (`doc_id % 10 == 9`) re-published as a 4-file
    * parquet stream, consumed with Trigger.AvailableNow +
    * maxFilesPerTrigger=2 (two REAL micro-batches with checkpointed
    * progress), each batch window-hashed fresh and probed against the
    * SAME stored base + batch-1 segment tables the batch query reads.
    * Verdicts are per-delta-row independent (the append kernel's
    * contract), so the union over any batch partitioning is
    * byte-identical to dedup_substring_index_append's output and the
    * query shares its DuckDB oracle — closing the LSM loop: the tier
    * exists FOR ingest, and this is the ingest runner actually driving
    * it. Per-batch cost ∝ batch size (bounded-batch broadcast probe,
    * zero exchange anywhere); segment maintenance stays with the batch
    * compaction queries.
    */
  def streamSubstrIngest(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // force the stored base+seg builds BEFORE the stream starts: index
    // maintenance is a batch job; the stream only probes
    val segs = StoredIndex.probeLevels(spark, dir, graft.operators.Cdc.SubstrTier)
      .map { case (l, ts) => l -> ts.head }
    val delta = StoredIndex.batchDocs(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val rows = Tables.cachedCount(spark, dir, "documents")
    val srcDir = graft.sources.DerivedCache.dir(
      dir, "stream-substr-src", s"rows=$rows;files=4") { out =>
      delta.repartition(4, col("doc_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$out/files")
      ()
    } + "/files"
    StreamRunner.runAvailableNow(
      spark,
      schema = delta.schema,
      srcDir = srcDir,
      maxFilesPerTrigger = 2,
      tmpPrefix = "graft-stream-substr",
      mkHandler = outDir =>
        (batch, _) => {
          graft.operators.Cdc
            .dedupSubstringIndexAppendUnorderedOf(
              batch.toDF(), segs, deltaIsSmall = true)
            .write.mode("append").parquet(outDir)
          ()
        },
      finish = _.orderBy(col("doc_id")),
      empty = {
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(
            StructField("doc_id", LongType),
            StructField("n_windows", LongType, nullable = false),
            StructField("n_dups", LongType, nullable = false),
            StructField("dup_of", LongType),
            StructField("dup_tier", StringType),
            StructField("n_shared", LongType),
            StructField("est_overlap_tokens", LongType),
            StructField("keep", BooleanType, nullable = false))))
      })
  }

  /** Streaming quality gate — the lambda-architecture twin of
    * quality_adaptive_gate: per-language z-score drop lines are TRAINED
    * once on the base corpus slice (doc_id % 10 < 8, the
    * dedup_incremental split) and stored build-once; the delta stream
    * then applies them per micro-batch with one broadcast join — the
    * shape a 100 TB ingest runs, where thresholds come from yesterday's
    * batch job and the stream only scores + gates. A language the base
    * never saw has no threshold and is KEPT (absence of evidence is not
    * a drop line). Verdicts are per-row independent, so the union over
    * any micro-batch partitioning is byte-identical to the batch
    * equivalent — the query shares a plain batch oracle (the
    * stream_dedup_ingest contract). Same micro-batch plumbing: 4-file
    * published source, Trigger.AvailableNow, maxFilesPerTrigger=2,
    * checkpointed idempotent appends.
    */
  def streamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val docs  = Tables.documents(spark, dir)
    val rows  = Tables.cachedCount(spark, dir, "documents")
    val score = expr(
      "size(array_distinct(split(text, ' '))) / CAST(size(split(text, ' ')) AS DOUBLE)")
    // stored per-lang thresholds: exact DECIMAL power sums, the
    // quality_adaptive_gate recipe (builtin stddev is partition-order-
    // dependent and can never hash-match), NULL below n=2
    val thr = graft.sources.DerivedCache.tables(
      dir, "quality-thresholds", s"rows=$rows;v=1") { b =>
      val nD = col("n").cast("double")
      val mean = col("s1") / nD
      val sd = sqrt(greatest(
        (col("s2") - col("s1") * col("s1") / nD) / (nD - 1.0), lit(0.0)))
      b.table("thr", docs
        .filter(col("doc_id") % 10 < 8)
        .select(col("lang"), score.as("score"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          graft.Det.fineSum(col("score")).as("s1"),
          graft.Det.fineSum(col("score") * col("score")).as("s2"))
        .select(
          col("lang"),
          when(col("n") < 2, lit(null).cast("double"))
            .otherwise(mean - sd).as("threshold")))
    }.read(spark, "thr")
    val delta = docs
      .filter((col("doc_id") % 10) >= 8)
      .select(col("doc_id"), col("lang"), col("text"))
    val srcDir = graft.sources.DerivedCache.dir(
      dir, "stream-quality-src", s"rows=$rows;files=4") { out =>
      delta.repartition(4, col("doc_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$out/files")
      ()
    } + "/files"
    StreamRunner.runAvailableNow(
      spark,
      schema = delta.schema,
      srcDir = srcDir,
      maxFilesPerTrigger = 2,
      tmpPrefix = "graft-stream-quality",
      mkHandler = outDir =>
        (batch, _) => {
          batch.toDF()
            .select(col("doc_id"), col("lang"), score.as("score"))
            .join(broadcast(thr), Seq("lang"), "left")
            .select(
              col("doc_id"),
              col("lang"),
              graft.Det.detRound(col("score"), 6).as("score"),
              graft.Det.detRound(col("threshold"), 6).as("threshold"),
              when(col("score") < col("threshold"), lit(false))
                .otherwise(lit(true)).as("keep"))
            .write.mode("append").parquet(outDir)
          ()
        },
      finish = _.orderBy(col("doc_id")),
      empty = {
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("doc_id", LongType),
            StructField("lang", StringType),
            StructField("score", DoubleType),
            StructField("threshold", DoubleType),
            StructField("keep", BooleanType, nullable = false))))
      })
  }

  /** Batch oracle of streamQualityGate: thresholds from the base slice,
    * verdicts over the delta slice, replayed with the same NULL-keep
    * and n≥2 rules.
    */
  private val streamQualityGateSql = {
    def r6(e: String) = graft.Det.roundSql(e, 6)
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |         len(list_distinct(string_split(text, ' ')))
       |           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
       |  FROM documents
       |), st AS (
       |  SELECT lang, count(*) AS n,
       |         CAST(SUM(CAST(score AS DECIMAL(30,10))) AS DOUBLE) AS s1,
       |         CAST(SUM(CAST(score * score AS DECIMAL(30,10))) AS DOUBLE) AS s2
       |  FROM scored WHERE doc_id % 10 < 8 GROUP BY lang
       |), thr AS (
       |  SELECT lang,
       |         CASE WHEN n < 2 THEN NULL
       |              ELSE s1 / n - sqrt(greatest(
       |                     (s2 - s1 * s1 / n) / (n - 1), 0.0)) END AS threshold
       |  FROM st
       |)
       |SELECT d.doc_id, d.lang,
       |       ${r6("d.score")} AS score,
       |       ${r6("t.threshold")} AS threshold,
       |       CASE WHEN d.score < t.threshold THEN FALSE ELSE TRUE END AS keep
       |FROM scored d LEFT JOIN thr t USING (lang)
       |WHERE d.doc_id % 10 >= 8
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The mixing plan SERVED AT INGEST — token_mix_sample's streaming
    * twin and the loader-side shape a 100 TB pipeline actually runs:
    * the per-source epoch schedule is trained ONCE on the BASE corpus
    * slice (doc_id % 10 < 8 — the corpus that existed at plan time)
    * and persisted via DerivedCache; each arriving delta micro-batch
    * joins the tiny broadcast plan and decides every doc's repeat
    * factor alone (floor(epochs) + the exact-dyadic salted-hash coin —
    * same 'mix:' salt as the batch sampler, so a doc draws the same
    * up-sample verdict in either materialization). A source unseen at
    * plan time gets repeats = 0 and planned = false — the honest
    * "unplanned source arrived" signal. Per-row independence makes the
    * union over any micro-batch partitioning byte-identical to the
    * batch replay, which is what lets one DuckDB oracle check the
    * whole streaming run.
    */
  def streamMixIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rows = Tables.cachedCount(spark, dir, "documents")
    val plan = graft.sources.DerivedCache.tables(
      dir, "mix-plan-base",
      s"rows=$rows;budget=${graft.operators.Curation.BudgetMultiple};" +
        s"cap=${graft.operators.Curation.MaxEpochs};v=1") { b =>
      val base = docs
        .filter(col("doc_id") % 10 < 8)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      val per = base
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("avail_tokens"))
        .withColumn("sq", sqrt(col("n_docs").cast("double")))
      val denom = per.agg(
        sum(col("sq").cast(graft.Det.Fine)).cast("double").as("sq_sum"),
        sum(col("avail_tokens")).as("total_tokens"))
      b.table("plan", per
        .crossJoin(broadcast(denom))
        .select(
          col("source").as("psrc"),
          least(
            lit(graft.operators.Curation.MaxEpochs),
            (col("sq") / col("sq_sum")) *
              (lit(graft.operators.Curation.BudgetMultiple) * col("total_tokens").cast("double"))
              / col("avail_tokens").cast("double")).as("epochs")))
    }.read(spark, "plan")
    val delta = docs
      .filter((col("doc_id") % 10) >= 8)
      .select(col("doc_id"), col("source"), col("text"))
    val srcDir = graft.sources.DerivedCache.dir(
      dir, "stream-mix-src", s"rows=$rows;files=4") { out =>
      delta.repartition(4, col("doc_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$out/files")
      ()
    } + "/files"
    StreamRunner.runAvailableNow(
      spark,
      schema = delta.schema,
      srcDir = srcDir,
      maxFilesPerTrigger = 2,
      tmpPrefix = "graft-stream-mix",
      mkHandler = outDir =>
        (batch, _) => {
          batch.toDF()
            .select(
              col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("nt"))
            .join(broadcast(plan), col("source") <=> col("psrc"), "left")
            .withColumn(
              "u",
              expr("CAST(conv(substr(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)")
                .cast("double") / lit(4503599627370496.0))
            .select(
              col("doc_id"),
              col("source"),
              col("nt"),
              when(col("epochs").isNull, lit(0L))
                .otherwise(
                  floor(col("epochs")) +
                    when(col("u") < col("epochs") - floor(col("epochs")).cast("double"), 1L)
                      .otherwise(0L))
                .as("repeats"),
              col("epochs").isNotNull.as("planned"))
            .write.mode("append").parquet(outDir)
          ()
        },
      finish = _.orderBy(col("doc_id")),
      empty = {
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("doc_id", LongType),
            StructField("source", StringType),
            StructField("nt", LongType),
            StructField("repeats", LongType),
            StructField("planned", BooleanType, nullable = false))))
      })
  }

  /** Batch oracle of streamMixIngest: the base-slice plan and the
    * per-delta-doc repeat rule replayed in SQL.
    */
  private val streamMixIngestSql = {
    s"""WITH docs AS (
       |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents
       |), per AS (
       |  SELECT source, count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS avail_tokens
       |  FROM docs WHERE doc_id % 10 < 8 GROUP BY source
       |), sq AS (
       |  SELECT source, n_docs, avail_tokens, sqrt(CAST(n_docs AS DOUBLE)) AS sq FROM per
       |), denom AS (
       |  SELECT CAST(SUM(CAST(sq AS DECIMAL(30,10))) AS DOUBLE) AS sq_sum,
       |         CAST(SUM(avail_tokens) AS BIGINT) AS total_tokens
       |  FROM sq
       |), plan AS (
       |  SELECT source AS psrc,
       |         least(${graft.operators.Curation.MaxEpochs},
       |               (sq / sq_sum) * (${graft.operators.Curation.BudgetMultiple} * CAST(total_tokens AS DOUBLE))
       |                 / CAST(avail_tokens AS DOUBLE)) AS epochs
       |  FROM sq, denom
       |), delta AS (
       |  SELECT d.doc_id, d.source, d.nt, p.epochs,
       |         CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
       |           / 4503599627370496.0 AS u
       |  FROM docs d LEFT JOIN plan p ON d.source IS NOT DISTINCT FROM p.psrc
       |  WHERE d.doc_id % 10 >= 8
       |)
       |SELECT doc_id, source, nt,
       |       CASE WHEN epochs IS NULL THEN 0
       |            ELSE CAST(floor(epochs) AS BIGINT) +
       |                 CASE WHEN u < epochs - floor(epochs) THEN 1 ELSE 0 END
       |       END AS repeats,
       |       epochs IS NOT NULL AS planned
       |FROM delta
       |ORDER BY doc_id""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "stream_mix_ingest" -> QueryDef(streamMixIngest, Some(streamMixIngestSql)),
    "stream_dedup_ingest" -> QueryDef(
      streamDedupIngest, Some(graft.operators.Dedup.dedupIncrementalSql)),
    "stream_substr_ingest" -> QueryDef(
      streamSubstrIngest,
      Some(graft.operators.Cdc.dedupSubstringIndexAppendSql)),
    "stream_quality_gate" -> QueryDef(
      streamQualityGate, Some(streamQualityGateSql)))
}
