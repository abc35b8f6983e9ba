package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Det, QueryDef, Tables}
import graft.sources.StoredIndex

/** Content-defined chunking (CDC) over the document corpus — the
  * storage-system dedup primitive (Rabin-style rolling-window
  * boundaries, as in LBFS/backup dedup and dataset-curation pipelines)
  * applied to training text at word granularity.
  *
  * Why content-defined instead of fixed-size: a one-word insertion
  * shifts EVERY fixed-size chunk after it, so fixed chunking finds no
  * sharing between a document and its lightly-edited copy. CDC draws
  * chunk boundaries where the CONTENT's rolling-window hash hits a
  * pattern, so after any local edit the boundaries re-synchronize at
  * the next matching window and all later chunks hash identically
  * (shift-robustness is spec-asserted in CdcSpec).
  *
  * The boundary rule is deliberately STATELESS per window — boundary
  * after word i iff md5(word_{i-1} || ' ' || word_i) starts with hex
  * '0' (p = 1/16, so ~16-word average chunks) — which makes the whole
  * chunker one codegen'd per-row projection: no sequential scan state,
  * no UDF, and the identical rule is re-computed verbatim by the
  * DuckDB oracle (md5 is engine-portable; xxhash64 is not). At 100 TB
  * the corpus is chunked in a single pass; only (md5, word-count,
  * char-count) triples reach the shuffle — chunk TEXT never leaves the
  * scan stage.
  *
  * Beyond-reference training-pipeline tier (the reference corpus has
  * no sub-document dedup); complements dedup_exact (whole-doc),
  * chunk_dedup (fixed chunks) and boilerplate_ngrams (n-gram level).
  */
object Cdc {

  /** Minimum chunk size (words) for a duplicate to be reported:
    * single-word "chunks" between two adjacent boundaries are just
    * frequent-word noise, not reusable spans. Mirrored in the oracle.
    */
  private val MinDupWords = 4

  /** Top-k duplicated chunks reported by cdc_chunk_dedup. */
  private val TopK = 100

  /** Per-document chunk stream: (doc_id, chunk, chunk_md5, words,
    * chunk_len). One projection pass — split, boundary flags, segment
    * bounds, and chunk strings are all in-row array expressions.
    * Package-private so CdcSpec can chunk synthetic frames directly.
    */
  private[graft] def chunkFrame(docs: DataFrame): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        col("t"),
        // 1-based word positions i with a boundary AFTER word i; the
        // size(t) >= 2 guard matters because Spark's sequence(2, 1)
        // counts DOWN (DuckDB's generate_series is empty there).
        expr(s"""CASE WHEN size(t) >= 2
                 |  THEN filter(sequence(2, size(t)),
                 |              i -> substr(md5(concat(t[i-2], ' ', t[i-1])), 1, 1) = '0')
                 |  ELSE array() END""".stripMargin).as("cuts"))
      .select(
        col("doc_id"),
        col("t"),
        expr("concat(array(0), cuts, array(size(t)))").as("cs"))
      .select(
        col("doc_id"),
        col("t"),
        // consecutive cut pairs -> (s, e] word ranges; a boundary at
        // the last word leaves an empty trailing segment, dropped here.
        expr("""filter(transform(sequence(1, size(cs) - 1),
                |                j -> named_struct('s', cs[j-1], 'e', cs[j])),
                |       p -> p.e > p.s)""".stripMargin).as("segs"))
    segs
      .select(
        col("doc_id"),
        col("t"),
        // The if() wrapper is load-bearing (same trap as dedupJaccard):
        // explode on a bare array column lets InferFiltersFromGenerate
        // add size/isnotnull filters, and pushdown then substitutes the
        // whole md5-per-window chunking expression into that Filter,
        // tripling the per-row cost. A non-Attribute generator child
        // keeps the chunker single-pass; slice(segs, 1, 0) is the
        // same-typed empty array.
        explode(expr("if(size(segs) >= 0, segs, slice(segs, 1, 0))")).as("p"))
      .select(
        col("doc_id"),
        col("p.s").cast("long").as("start"),
        concat_ws(" ", expr("slice(t, p.s + 1, p.e - p.s)")).as("chunk"),
        (col("p.e") - col("p.s")).cast("long").as("words"))
      .select(
        col("doc_id"),
        col("start"),
        col("chunk"),
        md5(col("chunk")).as("chunk_md5"),
        col("words"),
        length(col("chunk")).cast("long").as("chunk_len"))
  }

  private def chunks(spark: SparkSession, dir: String): DataFrame =
    chunkFrame(Tables.documents(spark, dir))
      // chunk text is dropped BEFORE any shuffle — at scale only the
      // 16-byte hash + two longs leave the scan stage.
      .select(col("doc_id"), col("chunk_md5"), col("words"), col("chunk_len"))

  /** Top duplicated content-defined chunks across the corpus: the
    * reusable spans a sub-document dedup would collapse. Carried
    * entirely by the chunk hash — one shuffle, bucket sizes bounded by
    * chunk frequency.
    */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunks(spark, dir)
      .filter(col("words") >= MinDupWords)
      .groupBy(col("chunk_md5"))
      .agg(
        count(lit(1)).as("n_total"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("words")).as("chunk_words"),
        max(col("chunk_len")).as("chunk_len"))
      .filter(col("n_total") >= 2)
      .orderBy(col("n_total").desc, col("chunk_md5"))
      .limit(TopK)

  /** The SQL body shared by both oracles: per-(doc, chunk) rows with
    * hash, word count and char count, boundary rule identical to the
    * Spark expression (DuckDB lists are 1-based where Spark arrays are
    * 0-based — w[i-1]/w[i] here IS t[i-2]/t[i-1] there).
    */
  private val chunkSqlBody =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), cut AS (
      |  SELECT doc_id, w,
      |         CASE WHEN len(w) >= 2
      |              THEN list_filter(generate_series(2, len(w)),
      |                               i -> substr(md5(w[i-1] || ' ' || w[i]), 1, 1) = '0')
      |              ELSE [] END AS cuts
      |  FROM t
      |), cs AS (
      |  SELECT doc_id, w, list_concat(list_concat([0], cuts), [len(w)]) AS cs FROM cut
      |), seg AS (
      |  SELECT doc_id, w,
      |         unnest(list_filter(
      |           list_transform(generate_series(1, len(cs) - 1),
      |                          j -> {'s': cs[j], 'e': cs[j+1]}),
      |           p -> p.e > p.s)) AS p
      |  FROM cs
      |), ch AS (
      |  SELECT doc_id,
      |         md5(array_to_string(w[(p.s + 1):(p.e)], ' ')) AS chunk_md5,
      |         CAST(p.e - p.s AS BIGINT) AS words,
      |         CAST(length(array_to_string(w[(p.s + 1):(p.e)], ' ')) AS BIGINT) AS chunk_len
      |  FROM seg
      |)""".stripMargin

  private val cdcChunkDedupSql =
    s"""$chunkSqlBody
       |SELECT chunk_md5, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs,
       |       max(words) AS chunk_words, max(chunk_len) AS chunk_len
       |FROM ch
       |WHERE words >= $MinDupWords
       |GROUP BY 1
       |HAVING count(*) >= 2
       |ORDER BY n_total DESC, chunk_md5
       |LIMIT $TopK""".stripMargin

  /** One-row corpus savings report: how much a content-addressed chunk
    * store would shrink this corpus (the dedup-ratio headline a storage
    * or dataset-curation system publishes). Two cheap aggregations —
    * per-hash then global; all-long arithmetic until the final ratio.
    */
  def cdcDedupRatio(spark: SparkSession, dir: String): DataFrame =
    chunks(spark, dir)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n"), max(col("chunk_len")).as("clen"))
      .agg(
        sum(col("n")).as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(col("n") * col("clen")).as("chunk_chars_total"),
        sum(col("clen")).as("chunk_chars_stored"),
        Det.detRound(
          lit(1.0) - sum(col("clen")).cast("double") /
            sum(col("n") * col("clen")).cast("double"),
          6).as("savings_ratio"))

  private val cdcDedupRatioSql =
    s"""$chunkSqlBody, g AS (
       |  SELECT chunk_md5, count(*) AS n, max(chunk_len) AS clen FROM ch GROUP BY 1
       |)
       |SELECT CAST(SUM(n) AS BIGINT) AS total_chunks,
       |       count(*) AS distinct_chunks,
       |       CAST(SUM(n * clen) AS BIGINT) AS chunk_chars_total,
       |       CAST(SUM(clen) AS BIGINT) AS chunk_chars_stored,
       |       ${Det.roundSql(
        "1.0 - CAST(SUM(clen) AS DOUBLE) / CAST(SUM(n * clen) AS DOUBLE)", 6)} AS savings_ratio
       |FROM g""".stripMargin

  /** Chunk-frequency cap for the span pair expansion: chunks shared by
    * more than this many (doc, offset) occurrences are boilerplate, not
    * span anchors, and would blow the pair expansion up quadratically.
    * Folded into the posting-list groupBy (bucket size IS the
    * frequency); mirrored verbatim in the oracle.
    */
  private val HotChunkCap = 200

  /** Only spans of at least this many words are reported — shorter
    * shared runs are covered by cdc_chunk_dedup itself.
    */
  private val MinSpanWords = 12

  /** Pair expansion is bounded to the first SpanOccCap occurrences of
    * each chunk (in (doc_id, offset) order — deterministic, mirrored
    * as `row_number() <= cap` in the oracle): on a copy-heavy corpus
    * every copy PAIR shares every span, so uncapped expansion is
    * quadratic in the copy count (measured at 100× duplicated docs:
    * 5.6 GiB memory + 1.0 GiB disk spill uncapped; 120 pairs/chunk max
    * and zero spill with the cap). The cap is a COVERAGE bound, not a
    * transitive shorthand: occurrences ranked above it appear in no
    * output pair, and a doc pair surviving for one chunk but capped
    * out of an adjacent chunk gets that span reported only partially.
    * Results are exact whenever every chunk has <= SpanOccCap
    * occurrences — guaranteed in the stated pipeline order, where
    * doc-level dedup runs before span analysis; cdc_chunk_dedup
    * carries the full per-chunk frequency truth regardless.
    */
  private val SpanOccCap = 16

  /** Duplicated spans between document pairs: adjacent shared chunks
    * merged into their longest runs (the gaps-and-islands pattern),
    * i.e. the output a substring-level dedup pipeline reports for span
    * removal. Spans are maximal over the occurrences that survive
    * [[SpanOccCap]] — see its note for the exactness condition. Shape: ONE posting-list shuffle on the chunk
    * hash with (doc_id, word-offset) bit-packed into a long (primitive
    * arrays stay on the codegen path, as in dedupJaccard), an i<j
    * in-row pair expansion bounded by HotChunkCap, then per-doc-pair
    * windows — partitioned by (doc_a, doc_b), never global. A chunk is
    * adjacent-in-span when it continues the PREVIOUS chunk in BOTH
    * documents (two lag() checks over one shared window sort).
    * Output-quadratic on heavily duplicated corpora by nature (every
    * copy pair shares every span), bounded by the frequency cap.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansFrame(Tables.documents(spark, dir))

  private[graft] def dupSpansFrame(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The 20-bit offset packing is LOAD-BEARING since the occurrence
    // cap selects WHICH postings survive by packed order: an offset at
    // or above 2^20 would corrupt that order (and the unpack) and
    // silently diverge from the oracle's ORDER BY doc_id, start. Guard
    // by excluding such chunks on BOTH sides — a >1M-word document's
    // tail is out of span-analysis scope, consistently in each engine.
    val postings = chunkFrame(docs)
      .filter(col("start") < (1L << 20))
      .select(
        col("chunk_md5"),
        (shiftleft(col("doc_id"), 20) + col("start")).as("d"),
        col("words"))
    val pairs = postings
      .groupBy(col("chunk_md5"))
      .agg(sort_array(collect_list(col("d"))).as("docs"), max(col("words")).as("words"))
      .filter(size(col("docs")).between(2, HotChunkCap))
      .select(
        expr(s"slice(docs, 1, $SpanOccCap)").as("docs"),
        col("words"))
      .select(posexplode(col("docs")).as(Seq("i", "a")), col("docs"), col("words"))
      .select(
        col("a"),
        explode(expr("slice(docs, i + 2, size(docs))")).as("b"),
        col("words"))
      // i<j over the packed sort also pairs re-occurrences WITHIN one
      // document; intra-doc repetition is doc_repetition's domain.
      .filter(shiftright(col("a"), 20) < shiftright(col("b"), 20))
      .select(
        shiftright(col("a"), 20).as("doc_a"),
        col("a").bitwiseAND(lit((1L << 20) - 1)).as("start_a"),
        shiftright(col("b"), 20).as("doc_b"),
        col("b").bitwiseAND(lit((1L << 20) - 1)).as("start_b"),
        col("words"))
    val w = Window
      .partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("start_a"), col("start_b"))
    val acc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs
      .withColumn(
        "brk",
        when(
          lag(col("start_a") + col("words"), 1).over(w) === col("start_a") &&
            lag(col("start_b") + col("words"), 1).over(w) === col("start_b"),
          0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(acc))
      .groupBy(col("doc_a"), col("doc_b"), col("island"))
      .agg(
        min(col("start_a")).as("start_a"),
        min(col("start_b")).as("start_b"),
        sum(col("words")).as("span_words"),
        count(lit(1)).as("n_chunks"))
      .filter(col("span_words") >= MinSpanWords)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("span_words"), col("n_chunks"))
      .orderBy(col("span_words").desc, col("doc_a"), col("doc_b"), col("start_a"))
      .limit(TopK)
  }

  private val dupSpansSql =
    s"""$chunkSqlBody, chs AS (
       |  SELECT doc_id, CAST(p.s AS BIGINT) AS start,
       |         md5(array_to_string(w[(p.s + 1):(p.e)], ' ')) AS h,
       |         CAST(p.e - p.s AS BIGINT) AS words
       |  FROM seg
       |  WHERE p.s < 1048576
       |), cold AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
       |    FROM chs WHERE h IN (
       |      SELECT h FROM chs GROUP BY 1 HAVING count(*) <= $HotChunkCap))
       |  WHERE rn <= $SpanOccCap
       |), pair AS (
       |  SELECT a.doc_id AS doc_a, a.start AS start_a,
       |         b.doc_id AS doc_b, b.start AS start_b, a.words AS words
       |  FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
       |), isl AS (
       |  SELECT *, SUM(brk) OVER (PARTITION BY doc_a, doc_b
       |                           ORDER BY start_a, start_b
       |                           ROWS UNBOUNDED PRECEDING) AS island
       |  FROM (
       |    SELECT *, CASE WHEN lag(start_a + words) OVER win = start_a
       |                    AND lag(start_b + words) OVER win = start_b
       |              THEN 0 ELSE 1 END AS brk
       |    FROM pair
       |    WINDOW win AS (PARTITION BY doc_a, doc_b ORDER BY start_a, start_b))
       |)
       |SELECT doc_a, doc_b, min(start_a) AS start_a, min(start_b) AS start_b,
       |       CAST(SUM(words) AS BIGINT) AS span_words, count(*) AS n_chunks
       |FROM isl GROUP BY doc_a, doc_b, island
       |HAVING SUM(words) >= $MinSpanWords
       |ORDER BY span_words DESC, doc_a, doc_b, start_a
       |LIMIT $TopK""".stripMargin

  /** Distinct-chunk content of a doc frame — the CAS-store kernel
    * shared by the base store, appended segments and the compaction
    * spec pin. `n_occ` is the reference count a real content-addressed
    * store keeps for GC/accounting: occurrences ingested, not copies
    * stored (chunk_len is per-content, so max = the one true length).
    */
  private[graft] def cdcChunkSet(docs: DataFrame): DataFrame =
    chunkFrame(docs)
      .groupBy(col("chunk_md5"))
      .agg(
        max(col("chunk_len")).as("chunk_len"),
        count(lit(1)).as("n_occ"))

  /** The stored chunk store for [[cdcIncremental]] and its LSM
    * lifecycle — the "already ingested" side of a content-addressed
    * store really IS a materialized table: distinct chunks bucketed by
    * chunk_md5 (the probe key), merged at compaction by
    * [[mergedChunkSets]]. The cheapest of the three index tiers: a chunk
    * set has no cap semantics, so a chunk stored in base AND segment is
    * merely stored twice until compaction — the accounting
    * [[cdcStoreCompact]] surfaces — while probes stay exact (presence =
    * presence in ANY tier). Base v=2 = bucketed, v=3 = the n_occ
    * refcount column.
    */
  private[graft] val CdcTier = StoredIndex.Tier(
    "cdc", "", "cdc-store" -> 3, "cdc-seg" -> 1, "cdc-compact" -> 1,
    Seq(StoredIndex.Table(
      "chunks", Seq("chunk_md5"), "chunk_md5 STRING, chunk_len BIGINT, n_occ BIGINT",
      StoredIndex.Merge(
        mergedChunkSets, col("in_base"), col("in_seg"),
        col("in_base") && col("in_seg")))),
    docs => Seq(cdcChunkSet(docs)))

  /** Incremental content-addressed ingest: chunk TODAY'S batch (the
    * delta 20% of the corpus), probe the STORED chunk store, and report
    * what a CAS store would actually persist — new vs already-stored
    * chunks, logical bytes ingested vs physical bytes written, and the
    * resulting dedup ratio. Per-batch cost is ∝ delta size: only delta
    * text is chunked; the base never re-chunks (it is a parquet table
    * from [[CdcTier]]). The store-side probe is a hash equi-join — at
    * 100 TB the store lives bucketed by chunk_md5 so the probe shuffles
    * only the delta (the sources/Bucketing layout; plain parquet
    * here). Oracle: DuckDB recomputes the base chunk set from the same
    * deterministic boundary rule, which is bit-identical to the stored
    * table's content.
    */
  def cdcIncremental(spark: SparkSession, dir: String): DataFrame = {
    val store = StoredIndex.tables(spark, dir, CdcTier, StoredIndex.Base).head
    val perHash = chunkFrame(StoredIndex.deltaDocs(Tables.documents(spark, dir)))
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n"), max(col("chunk_len")).as("clen"))
    // left-outer SHUFFLE_HASH building the DELTA side: the bucketed
    // store scan is already clustered on chunk_md5, so only the delta
    // exchanges and the corpus-sized store streams unsorted
    perHash
      .hint("SHUFFLE_HASH")
      .join(
        store.select(col("chunk_md5"), lit(1).as("in_store")),
        Seq("chunk_md5"), "left")
      .agg(
        count(lit(1)).as("delta_distinct_chunks"),
        sum(col("n")).as("delta_chunks"),
        sum(when(col("in_store").isNull, 1L).otherwise(0L)).as("new_chunks"),
        sum(when(col("in_store").isNotNull, col("n")).otherwise(0L))
          .as("dup_chunk_occurrences"),
        sum(col("n") * col("clen")).as("bytes_ingested"),
        sum(when(col("in_store").isNull, col("clen")).otherwise(0L))
          .as("bytes_written"),
        Det.detRound(
          lit(1.0) -
            sum(when(col("in_store").isNull, col("clen")).otherwise(0L))
              .cast("double") /
            sum(col("n") * col("clen")).cast("double"),
          6).as("dedup_ratio"))
  }

  private val cdcIncrementalSql =
    s"""$chunkSqlBody, store AS (
       |  SELECT chunk_md5 FROM ch WHERE doc_id % 10 < 8 GROUP BY 1
       |), g AS (
       |  SELECT chunk_md5, count(*) AS n, max(chunk_len) AS clen
       |  FROM ch WHERE doc_id % 10 >= 8 GROUP BY 1
       |)
       |SELECT count(*) AS delta_distinct_chunks,
       |       CAST(SUM(n) AS BIGINT) AS delta_chunks,
       |       CAST(SUM(CASE WHEN s.chunk_md5 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS new_chunks,
       |       CAST(SUM(CASE WHEN s.chunk_md5 IS NOT NULL THEN n ELSE 0 END) AS BIGINT)
       |         AS dup_chunk_occurrences,
       |       CAST(SUM(n * clen) AS BIGINT) AS bytes_ingested,
       |       CAST(SUM(CASE WHEN s.chunk_md5 IS NULL THEN clen ELSE 0 END) AS BIGINT)
       |         AS bytes_written,
       |       ${Det.roundSql(
        "1.0 - CAST(SUM(CASE WHEN s.chunk_md5 IS NULL THEN clen ELSE 0 END) AS DOUBLE)" +
          " / CAST(SUM(n * clen) AS DOUBLE)", 6)} AS dedup_ratio
       |FROM g LEFT JOIN store s ON g.chunk_md5 = s.chunk_md5""".stripMargin

  // ------------------------------------------ CDC store LSM lifecycle

  /** Probe across base store + appended segment — CAS ingest with a
    * live segment tier: batch 2 (`doc_id % 10 == 9`) is chunked fresh
    * and checked against BOTH the base store (`% 10 < 8`) and the
    * previously-ingested batch 1 (`% 10 == 8`, stored as its own
    * bucketed segment of [[CdcTier]]). Without the segment, a chunk
    * first seen yesterday is "new" again today and the store writes it
    * twice — the same staleness hole the substring/minhash append
    * queries close, here at chunk grain. `dup_in_base` / `dup_in_seg`
    * split the hits by tier (base wins when a chunk is in both — the
    * compaction-pending double-store [[cdcStoreCompact]] accounts for).
    *
    * Scale shape: two left joins, each with the batch-sized delta as
    * SHUFFLE_HASH build side against a hash-clustered store scan
    * (plan-asserted exchange-free on the store side); per-batch cost
    * ∝ batch, segments bounded by compaction.
    */
  def cdcStoreAppend(spark: SparkSession, dir: String): DataFrame = {
    val base = StoredIndex.tables(spark, dir, CdcTier, StoredIndex.Base).head
    val seg  = StoredIndex.tables(spark, dir, CdcTier, StoredIndex.Seg).head
    val perHash = chunkFrame(StoredIndex.batchDocs(Tables.documents(spark, dir)))
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n"), max(col("chunk_len")).as("clen"))
    perHash
      .hint("SHUFFLE_HASH")
      .join(
        base.select(col("chunk_md5"), lit(1).as("in_base")),
        Seq("chunk_md5"), "left")
      .hint("SHUFFLE_HASH")
      .join(
        seg.select(col("chunk_md5"), lit(1).as("in_seg")),
        Seq("chunk_md5"), "left")
      .agg(
        count(lit(1)).as("delta_distinct_chunks"),
        sum(col("n")).as("delta_chunks"),
        sum(when(col("in_base").isNull && col("in_seg").isNull, 1L)
          .otherwise(0L)).as("new_chunks"),
        sum(when(col("in_base").isNotNull, 1L).otherwise(0L))
          .as("dup_in_base"),
        sum(when(col("in_base").isNull && col("in_seg").isNotNull, 1L)
          .otherwise(0L)).as("dup_in_seg"),
        sum(col("n") * col("clen")).as("bytes_ingested"),
        sum(when(col("in_base").isNull && col("in_seg").isNull, col("clen"))
          .otherwise(0L)).as("bytes_written"),
        Det.detRound(
          lit(1.0) -
            sum(when(col("in_base").isNull && col("in_seg").isNull, col("clen"))
              .otherwise(0L)).cast("double") /
            sum(col("n") * col("clen")).cast("double"),
          6).as("dedup_ratio"))
  }

  private val cdcStoreAppendSql =
    s"""$chunkSqlBody, store0 AS (
       |  SELECT chunk_md5 FROM ch WHERE doc_id % 10 < 8 GROUP BY 1
       |), store1 AS (
       |  SELECT chunk_md5 FROM ch WHERE doc_id % 10 = 8 GROUP BY 1
       |), g AS (
       |  SELECT chunk_md5, count(*) AS n, max(chunk_len) AS clen
       |  FROM ch WHERE doc_id % 10 = 9 GROUP BY 1
       |)
       |SELECT count(*) AS delta_distinct_chunks,
       |       CAST(SUM(n) AS BIGINT) AS delta_chunks,
       |       CAST(SUM(CASE WHEN b.chunk_md5 IS NULL AND s.chunk_md5 IS NULL
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS new_chunks,
       |       CAST(SUM(CASE WHEN b.chunk_md5 IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS dup_in_base,
       |       CAST(SUM(CASE WHEN b.chunk_md5 IS NULL AND s.chunk_md5 IS NOT NULL
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS dup_in_seg,
       |       CAST(SUM(n * clen) AS BIGINT) AS bytes_ingested,
       |       CAST(SUM(CASE WHEN b.chunk_md5 IS NULL AND s.chunk_md5 IS NULL
       |                     THEN clen ELSE 0 END) AS BIGINT) AS bytes_written,
       |       ${Det.roundSql(
        "1.0 - CAST(SUM(CASE WHEN b.chunk_md5 IS NULL AND s.chunk_md5 IS NULL" +
          " THEN clen ELSE 0 END) AS DOUBLE) / CAST(SUM(n * clen) AS DOUBLE)",
        6)} AS dedup_ratio
       |FROM g
       |LEFT JOIN store0 b ON g.chunk_md5 = b.chunk_md5
       |LEFT JOIN store1 s ON g.chunk_md5 = s.chunk_md5""".stripMargin

  /** Merge two stored chunk sets — the CDC compaction kernel. Chunk
    * sets are trivially closed under merge (no cap semantics):
    * full-outer on chunk_md5, refcounts add, lengths coalesce. The
    * join is exchange-free over two bucketed store scans and its
    * output stays hash-clustered on chunk_md5, so the compacted store
    * writes ALIGNED — zero shuffles end to end.
    */
  private[graft] def mergedChunkSets(a: DataFrame, b: DataFrame): DataFrame =
    a.select(
        col("chunk_md5"), col("chunk_len").as("la"), col("n_occ").as("oa"))
      .join(
        b.select(
          col("chunk_md5"), col("chunk_len").as("lb"), col("n_occ").as("ob")),
        Seq("chunk_md5"), "full_outer")
      .select(
        col("chunk_md5"),
        coalesce(col("la"), col("lb")).as("chunk_len"),
        (coalesce(col("oa"), lit(0L)) + coalesce(col("ob"), lit(0L)))
          .as("n_occ"),
        col("la").isNotNull.as("in_base"),
        col("lb").isNotNull.as("in_seg"))

  /** Compact the base store + the batch-1 segment into one
    * content-addressed store (stored bucketed, build-once, zero-shuffle
    * write — see [[StoredIndex]]) and report what the merge
    * reclaimed: per tier (base_only / in_both / seg_only), distinct
    * chunks, stored bytes, and ingested occurrences. `in_both` is the
    * LSM double-store the segmented layout pays until compaction —
    * those chunks' bytes are stored twice across tiers and once after
    * the merge, which is the storage the compaction run reclaims
    * (probe results never change; presence is presence in any tier).
    */
  def cdcStoreCompact(spark: SparkSession, dir: String): DataFrame = {
    StoredIndex.dir(spark, dir, CdcTier, StoredIndex.Compact) // build-once side effect
    StoredIndex.merged(spark, dir, CdcTier)
      .select(
        when(col("in_base") && col("in_seg"), "in_both")
          .when(col("in_base"), "base_only")
          .otherwise("seg_only").as("tier"),
        col("chunk_len"), col("n_occ"))
      .groupBy(col("tier"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("bytes_stored"),
        sum(col("n_occ")).as("occurrences"))
      .orderBy(col("tier"))
  }

  private val cdcStoreCompactSql =
    s"""$chunkSqlBody, d AS (
       |  SELECT chunk_md5, max(chunk_len) AS chunk_len,
       |         count(*) FILTER (WHERE doc_id % 10 < 8) AS ob,
       |         count(*) FILTER (WHERE doc_id % 10 = 8) AS os
       |  FROM ch WHERE doc_id % 10 < 9
       |  GROUP BY 1
       |)
       |SELECT CASE WHEN ob > 0 AND os > 0 THEN 'in_both'
       |            WHEN ob > 0 THEN 'base_only'
       |            ELSE 'seg_only' END AS tier,
       |       count(*) AS n_chunks,
       |       CAST(SUM(chunk_len) AS BIGINT) AS bytes_stored,
       |       CAST(SUM(ob + os) AS BIGINT) AS occurrences
       |FROM d
       |GROUP BY 1
       |ORDER BY tier""".stripMargin

  /** Train→eval leakage at chunk granularity: for each eval split
    * (val/test, assigned by dataset_split's salted-hash rule, repeated
    * verbatim here), how many of its content-defined chunks also occur
    * in train, and how many of its documents carry at least one such
    * chunk — the split-contamination measurement substring-level dedup
    * papers run before reporting eval numbers. Shape: the train chunk
    * set is a distinct hash frame; eval chunks left-join it, then TWO
    * plain two-stage aggregations (per-chunk and per-doc hit flags →
    * per-split counts) — no multi-column Expand, everything map-side
    * combinable; only hashes shuffle.
    */
  def splitContamination(spark: SparkSession, dir: String): DataFrame = {
    val splitCol =
      when(
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1) <= "b",
        "train")
        .when(
          substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1) <= "d",
          "val")
        .otherwise("test")
    val ch = chunkFrame(Tables.documents(spark, dir))
      .filter(col("words") >= MinDupWords)
      .select(col("doc_id"), col("chunk_md5"), splitCol.as("split"))
    val trainH = ch
      .filter(col("split") === "train")
      .select(col("chunk_md5"))
      .distinct()
      .withColumn("in_train", lit(1L))
    val evalCh = ch
      .filter(col("split") =!= "train")
      .join(trainH, Seq("chunk_md5"), "left")
      .withColumn("hit", coalesce(col("in_train"), lit(0L)))
    val byChunk = evalCh
      .groupBy(col("split"), col("chunk_md5"))
      .agg(max(col("hit")).as("hit"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("hit")).as("contaminated_chunks"))
    val byDoc = evalCh
      .groupBy(col("split"), col("doc_id"))
      .agg(max(col("hit")).as("hit"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("hit")).as("docs_affected"))
    byChunk
      .join(byDoc, "split")
      .select(
        col("split"),
        col("n_chunks"),
        col("contaminated_chunks"),
        Det.detRound(
          col("contaminated_chunks").cast("double") / col("n_chunks"), 6)
          .as("chunk_contamination_rate"),
        col("n_docs"),
        col("docs_affected"),
        Det.detRound(col("docs_affected").cast("double") / col("n_docs"), 6)
          .as("doc_contamination_rate"))
      .orderBy(col("split"))
  }

  private val splitContaminationSql =
    s"""$chunkSqlBody, sp AS (
       |  SELECT doc_id,
       |         CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
       |              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
       |              ELSE 'test' END AS split,
       |         chunk_md5
       |  FROM ch WHERE words >= $MinDupWords
       |), tr AS (
       |  SELECT DISTINCT chunk_md5 FROM sp WHERE split = 'train'
       |), ev AS (
       |  SELECT s.split, s.doc_id, s.chunk_md5,
       |         CASE WHEN t.chunk_md5 IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM sp s LEFT JOIN tr t ON s.chunk_md5 = t.chunk_md5
       |  WHERE s.split != 'train'
       |), bc AS (
       |  SELECT split, count(*) AS n_chunks,
       |         CAST(SUM(hit) AS BIGINT) AS contaminated_chunks
       |  FROM (SELECT split, chunk_md5, max(hit) AS hit FROM ev GROUP BY 1, 2)
       |  GROUP BY split
       |), bd AS (
       |  SELECT split, count(*) AS n_docs,
       |         CAST(SUM(hit) AS BIGINT) AS docs_affected
       |  FROM (SELECT split, doc_id, max(hit) AS hit FROM ev GROUP BY 1, 2)
       |  GROUP BY split
       |)
       |SELECT bc.split, n_chunks, contaminated_chunks,
       |       ${Det.roundSql(
        "CAST(contaminated_chunks AS DOUBLE) / n_chunks", 6)} AS chunk_contamination_rate,
       |       n_docs, docs_affected,
       |       ${Det.roundSql(
        "CAST(docs_affected AS DOUBLE) / n_docs", 6)} AS doc_contamination_rate
       |FROM bc JOIN bd ON bc.split = bd.split
       |ORDER BY bc.split""".stripMargin

  // ---------------------------------------- token-level substring dedup

  /** Fixed window length (tokens) for dedup_substring — the "duplicated
    * substring of at least W tokens" target length of the suffix-array
    * exact-substring dedup literature (Lee et al. 2022 use 50 BPE
    * tokens; word tokens here). Two docs share a verbatim run of >= W
    * tokens iff they share at least one W-token window, so window-hash
    * equality is an EXACT detector at this granularity — unlike CDC
    * chunks, whose boundaries must fall inside the shared region for a
    * full chunk to be shared (a W-token overlap with no internal cut,
    * p = (15/16)^(W-1), is invisible to cdc_chunk_dedup; CdcSpec plants
    * exactly that fixture).
    */
  private[graft] val SubstrW = 50

  /** Document-frequency cap on a window hash's posting list: a window
    * shared by more docs than this is boilerplate (licence block, nav
    * text) already surfaced by boilerplate_ngrams/cdc_chunk_dedup, and
    * expanding its C(df,2) pairs is the only superlinear term in the
    * plan — the same bucket-cap discipline as dedup_jaccard's
    * HotShingleCap. Mirrored in the oracle.
    */
  private[operators] val SubstrDfCap = 64

  /** Top-k co-duplicated pairs reported by dedup_substring. */
  private val SubstrTopK = 100

  /** Token-level exact-substring dedup: for every document pair, how
    * many distinct W-token windows they share verbatim — the
    * sub-chunk-granularity pass that catches verbatim overlaps shorter
    * than what CDC chunking resolves (its ~16-word chunks must fall
    * ENTIRELY inside the overlap to match). est_overlap_tokens is the
    * exact overlap length when the shared windows form one contiguous
    * run (n_shared + W − 1), a lower bound otherwise.
    *
    * Scale shape (the Lee et al. operator re-expressed as a bucketed
    * posting-list plan instead of a suffix array): windows are hashed
    * IN-ROW by the O(n) rolling-hash codegen kernel
    * (functions.TokenWindowHashes — only 8-byte hashes ever leave the
    * scan stage, never window text), per-doc distinct, then
    * one groupBy builds the inverted index with the df cap folded into
    * the same aggregate (bucket size IS the window's df), and pairs
    * expand in-row from the sorted posting list — one corpus pass, two
    * shuffles, zero joins, bounded C(cap,2) fan-out per hot window.
    * The oracle self-joins raw window STRINGS (the rolling kernel is
    * Spark-side only),
    * so a hash collision would show up as a count mismatch — the same
    * collision-audited equivalence dedup_jaccard uses.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringOf(Tables.documents(spark, dir))

  /** The kernel over any (doc_id, text) frame, factored for CdcSpec's
    * planted-overlap fixtures.
    */
  private[graft] def dedupSubstringOf(docs: DataFrame): DataFrame = {
    val win = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        // O(n) rolling-hash window kernel (TokenWindowHashes) — the
        // transform+slice form re-hashed every 50-token window string,
        // O(n·W) bytes per doc
        when(
          size(col("t")) >= SubstrW,
          array_distinct(expr(s"graft_window_hashes(t, $SubstrW)")))
          .otherwise(array().cast("array<bigint>")).as("hs"))
      .select(
        col("doc_id"),
        // if() wrapper: same InferFiltersFromGenerate defense as
        // chunkFrame/pairCommonOf — keeps the window-hashing transform
        // single-pass instead of duplicated into a pushed-down Filter
        explode(expr("if(size(hs) >= 0, hs, slice(hs, 1, 0))")).as("h"))
    win
      .groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")).between(2, SubstrDfCap))
      .select(posexplode(col("docs")).as(Seq("i", "a")), col("docs"))
      .select(col("a"), explode(expr("slice(docs, i + 2, size(docs))")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(
        col("a").as("doc_a"),
        col("b").as("doc_b"),
        col("n_shared"),
        (col("n_shared") + lit((SubstrW - 1).toLong)).as("est_overlap_tokens"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(SubstrTopK)
  }

  /** Bucket-size cap for the positional span kernel: total (doc, pos)
    * entries per window hash. Repetitive text can repeat one window many
    * times WITHIN a doc, and the positional pair expansion is quadratic
    * in entries — the cap bounds it at C(256,2) per bucket. Mirrored in
    * the oracle.
    */
  private val SpanBucketCap = 256

  /** Exact maximal-span report over the shared-window pairs: for every
    * document pair, the number of MAXIMAL verbatim runs (>= SubstrW
    * tokens) and the exact length of the longest one — the span
    * extraction step of suffix-array substring dedup, re-expressed as
    * diagonal runs over window positions. Two windows at positions
    * (pa, pb) and (pa+1, pb+1) extend the same verbatim run, so shared
    * windows group by diagonal d = pa − pb and a gaps-and-islands pass
    * (pa − row_number) splits each diagonal into maximal runs:
    * run of k consecutive windows = verbatim overlap of exactly
    * k + W − 1 tokens. This is what dedup_substring's est_overlap_tokens
    * approximates; here multi-region pairs are exact (spec-asserted on a
    * planted two-region fixture).
    *
    * Scale shape: (doc, pos) packed into one long and carried through
    * the posting lists like dedup_jaccard's size ride-along; buckets are
    * df-capped AND entry-capped (SpanBucketCap) so the positional
    * expansion is C(cap,2)-bounded per window; the islands window
    * function partitions by (pair, diagonal) — thousands of tiny
    * partitions, never a global sort.
    */
  def dedupSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringSpansOf(Tables.documents(spark, dir))

  /** Position capacity of the packed (doc_id << 24) + pos entry: a doc
    * longer than this would carry its position into the doc_id bits and
    * silently misattribute spans (round-12 review finding), so docs at
    * or beyond the bound are EXCLUDED — mirrored in the oracle so both
    * engines agree on the capacity semantics. 2^24 tokens ≈ a 100 MB
    * document; real corpora chunk far earlier, and doc_id keeps the
    * same < 2^39 headroom as dedup_jaccard's packing.
    */
  private val SpanMaxDocTokens = (1L << 24) + SubstrW - 1

  /** Position-level packed window stream (h, (doc_id << 24) + pos) —
    * shared by the span report and the strip transform. The array index
    * IS the window position, so the O(n) rolling kernel + posexplode
    * yields (pos, hash) directly; packed order == (doc, pos) order.
    */
  private def spanWin(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(
        size(col("t")) >= SubstrW && size(col("t")) <= lit(SpanMaxDocTokens))
      .select(
        col("doc_id"),
        expr(s"graft_window_hashes(t, $SubstrW)").as("ws"))
      .select(
        col("doc_id"),
        posexplode(expr("if(size(ws) >= 0, ws, slice(ws, 1, 0))")).as(Seq("p", "h")))
      .select(
        col("h"),
        (shiftleft(col("doc_id"), 24) + col("p")).as("e"))
  }

  private[graft] def dedupSubstringSpansOf(docs: DataFrame): DataFrame = {
    spanWin(docs)
      .groupBy(col("h"))
      .agg(
        sort_array(collect_list(col("e"))).as("es"),
        countDistinct(shiftright(col("e"), 24)).as("nd"))
      .filter(col("nd").between(2, SubstrDfCap) && size(col("es")) <= SpanBucketCap)
      .select(posexplode(col("es")).as(Seq("i", "ea")), col("es"))
      .select(col("ea"), explode(expr("slice(es, i + 2, size(es))")).as("eb"))
      // cross-doc only: es is sorted by packed value = (doc, pos) order
      .filter(shiftright(col("ea"), 24) < shiftright(col("eb"), 24))
      .select(
        shiftright(col("ea"), 24).as("doc_a"),
        shiftright(col("eb"), 24).as("doc_b"),
        (col("ea").bitwiseAND(lit((1L << 24) - 1)) -
          col("eb").bitwiseAND(lit((1L << 24) - 1))).as("d"),
        col("ea").bitwiseAND(lit((1L << 24) - 1)).as("pa"))
      .withColumn(
        "island",
        col("pa") - row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_a"), col("doc_b"), col("d"))
            .orderBy(col("pa"))))
      .groupBy(col("doc_a"), col("doc_b"), col("d"), col("island"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        count(lit(1)).as("n_spans"),
        (max(col("run_len")) + lit((SubstrW - 1).toLong)).as("max_span_tokens"),
        sum(col("run_len")).as("shared_window_pairs"))
      .orderBy(col("max_span_tokens").desc, col("doc_a"), col("doc_b"))
      .limit(SubstrTopK)
  }

  private val dedupSubstringSpansSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW AND len(w) <= $SpanMaxDocTokens
       |), cold AS (
       |  SELECT * FROM win WHERE s IN (
       |    SELECT s FROM win GROUP BY s
       |    HAVING count(DISTINCT doc_id) BETWEEN 2 AND $SubstrDfCap
       |       AND count(*) <= $SpanBucketCap)
       |), hits AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.p - b.p AS d, a.p AS pa
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
       |), isl AS (
       |  SELECT doc_a, doc_b, d,
       |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, d ORDER BY pa)
       |           AS island
       |  FROM hits
       |), runs AS (
       |  SELECT doc_a, doc_b, d, island, count(*) AS run_len
       |  FROM isl GROUP BY 1, 2, 3, 4
       |)
       |SELECT doc_a, doc_b,
       |       count(*) AS n_spans,
       |       max(run_len) + ${SubstrW - 1} AS max_span_tokens,
       |       CAST(SUM(run_len) AS BIGINT) AS shared_window_pairs
       |FROM runs
       |GROUP BY 1, 2
       |ORDER BY max_span_tokens DESC, doc_a, doc_b
       |LIMIT $SubstrTopK""".stripMargin

  /** The ACTIONABLE step of substring dedup — what Lee et al. 2022
    * actually do to the corpus: remove every token covered by a
    * duplicated >= W-token window, keeping one canonical occurrence.
    * Keep-first rule: per shared window, the LOWEST doc_id containing it
    * keeps its text; every other doc marks the window's W positions for
    * removal. Per doc the report is (n_tokens, n_removed, removed_ratio,
    * boiler_windows, boiler_removed) — the token-level dedup savings a
    * curation run publishes before materializing the stripped corpus
    * (the stripped TEXT itself is a trivial slice over the same
    * covered-position set; the report form keeps the oracle exact and
    * the output bounded). Unlike the span/detector kernels, the strip is
    * UNCAPPED since round 14: boilerplate windows (df > SubstrDfCap)
    * strip too — they are the most-duplicated text, exactly what a
    * curation run most wants removed — and the boiler_* columns account
    * for that tier's window count and removed-token mass per doc (the
    * mass the pre-r14 cap silently kept).
    *
    * Scale shape: the position stream reuses the span kernel's packed
    * encoding, the keeper is a per-bucket MIN (an aggregate — no bucket
    * is ever materialized as an array, which is what lets the df cap
    * go), non-keeper entries explode to their W covered positions
    * (volume = W · |duplicated window occurrences|, collapsed per-doc by
    * the distinct), and the final frame is one left join onto per-doc
    * token counts.
    */
  def dedupSubstringStrip(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringStripOf(Tables.documents(spark, dir))

  /** Non-keeper window occurrences (doc_id, p, boiler) under the
    * keep-first rule over ALL duplicated windows — including the
    * boilerplate tier (df > [[SubstrDfCap]]) the span/detector kernels
    * cap away. The caps exist to bound PAIR expansion; the strip needs
    * no pairs, so the keeper is computed without ever materializing a
    * bucket: min packed entry = (lowest doc, earliest pos) — an
    * aggregate, not a collect_list, so a window duplicated 10M times
    * costs one scalar per bucket, never an 80 MB array row. Before
    * round 14 those windows were silently KEPT (the ×100 copymark
    * fixture showed zero strip yield on 100-copy text by design) —
    * the most-duplicated content is exactly what a curation run most
    * wants removed; `boiler` tags them so the report can account for
    * the mass the old cap discarded.
    */
  private def stripEntries(docs: DataFrame): DataFrame = {
    val win = spanWin(docs)
    val keep = win
      .groupBy(col("h"))
      .agg(
        min(col("e")).as("e0"),
        countDistinct(shiftright(col("e"), 24)).as("nd"))
      .filter(col("nd") >= 2)
    // the join re-keys the window stream by h — the same partitioning
    // the keeper aggregate used, so the exchange is reused, not repaid
    win
      .join(keep, Seq("h"))
      .filter(shiftright(col("e"), 24) =!= shiftright(col("e0"), 24))
      .select(
        shiftright(col("e"), 24).as("doc_id"),
        col("e").bitwiseAND(lit((1L << 24) - 1)).as("p"),
        (col("nd") > SubstrDfCap).as("boiler"))
  }

  /** Per-doc removal summary under the keep-first rule: (doc_id, rs =
    * sorted distinct covered positions, boiler_windows, boiler_removed)
    * — the removal set shared by the savings report
    * ([[dedupSubstringStripOf]]) and the stripped-corpus
    * materialization ([[dedupSubstringStripTextOf]]).
    *
    * The ×W position expansion happens IN-ROW (flatten + distinct over
    * the per-doc window-position array), never through a shuffle: the
    * exploded form shipped W · occurrences rows, which on a 100-copy
    * corpus (99% of windows stripped) is a ~50× corpus-token-count
    * exchange — ~12.5B rows at the ×100 docsonly fixture. Collapsing to
    * per-doc arrays first moves only one row per removed window
    * occurrence, and the in-row expansion is the island-flatten kernel
    * ([[coveredPositionsExpr]]) whose transient is O(positions +
    * covered tokens) — bounded by the doc's own length, never W× it.
    */
  private def stripRemovals(docs: DataFrame): DataFrame =
    stripEntries(docs)
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(col("p"))).as("ps"),
        // collect_list drops nulls: bps = boiler-window positions only
        sort_array(collect_list(when(col("boiler"), col("p")))).as("bps"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("boiler_windows"))
      .select(
        col("doc_id"),
        expr(coveredPositionsExpr("ps")).as("rs"),
        expr(s"size(${coveredPositionsExpr("bps")})")
          .cast("long").as("boiler_removed"),
        col("boiler_windows"))

  /** In-row covered-position expansion of a SORTED window-position
    * array: island starts/ends by gap detection (a new island starts
    * when the next window begins past the previous covered run, i.e.
    * p > prev + W — the spans kernel's diagonal-island trick), one
    * `sequence(start, last + W − 1)` per island, flattened. Equivalent
    * to `array_distinct(flatten(transform(ps, p → sequence(p,
    * p+W−1))))` but with an O(|positions| + |covered|) transient
    * instead of W×|positions| — a heavily-covered long document used to
    * allocate a W× transient in ONE row (round-14 review finding;
    * ~800 MB for a fully-covered 2M-token doc). Islands are disjoint so
    * no distinct is needed; flattened ascending sequences are already
    * sorted; duplicate positions (the incremental path unions base and
    * intra removals) are never island starts, so they collapse for
    * free. Empty arrays short-circuit (`sequence(1, 0)` would count
    * DOWN).
    */
  private def coveredPositionsExpr(ps: String): String =
    // the boundary probes (i−1 at the head, i+1 at the tail) use
    // try_element_at: NULL instead of an error on the out-of-range
    // index, so the guard holds under ANY evaluation order — the first
    // disjunct (i = 1 / i = size) is TRUE exactly when the probe is out
    // of range, and TRUE OR NULL = TRUE (an OR short-circuit alone is
    // an ANSI-evaluation-order gamble; round-14 ADVICE)
    s"""IF(size($ps) = 0, CAST(array() AS ARRAY<BIGINT>),
       |  flatten(zip_with(
       |    filter(transform(sequence(1, size($ps)),
       |      i -> IF(i = 1 OR element_at($ps, i) > try_element_at($ps, i - 1) + $SubstrW,
       |              element_at($ps, i), CAST(-1 AS BIGINT))), x -> x >= 0),
       |    filter(transform(sequence(1, size($ps)),
       |      i -> IF(i = size($ps) OR try_element_at($ps, i + 1) > element_at($ps, i) + $SubstrW,
       |              element_at($ps, i) + ${SubstrW - 1}, CAST(-1 AS BIGINT))), x -> x >= 0),
       |    (s, e) -> sequence(s, e))))""".stripMargin

  private[graft] def dedupSubstringStripOf(docs: DataFrame): DataFrame = {
    val removals = stripRemovals(docs)
      .select(
        col("doc_id"),
        size(col("rs")).cast("long").as("n_removed"),
        col("boiler_removed"),
        col("boiler_windows"))
    docs
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(removals, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        Det.detRound(
          coalesce(col("n_removed"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"), 6).as("removed_ratio"),
        // the boilerplate-tier accounting (round-13 verdict task 2):
        // how many of this doc's removed window occurrences had
        // df > SubstrDfCap, and how many removed positions those
        // windows cover — the mass the pre-r14 cap silently kept
        coalesce(col("boiler_windows"), lit(0L)).as("boiler_windows"),
        coalesce(col("boiler_removed"), lit(0L)).as("boiler_removed"))
      .orderBy(col("doc_id"))
  }

  private val dedupSubstringStripSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW AND len(w) <= $SpanMaxDocTokens
       |), b AS (
       |  -- ALL duplicated windows strip (keep-first); df > cap only TAGS
       |  -- the boilerplate tier for the accounting columns
       |  SELECT s, min(doc_id) AS keeper,
       |         count(DISTINCT doc_id) > $SubstrDfCap AS boiler
       |  FROM win GROUP BY s
       |  HAVING count(DISTINCT doc_id) >= 2
       |), rem AS (
       |  SELECT w.doc_id, w.p + g.o AS pos, b.boiler,
       |         CASE WHEN g.o = 0 AND b.boiler THEN 1 ELSE 0 END AS bw
       |  FROM win w
       |  JOIN b ON w.s = b.s AND w.doc_id != b.keeper,
       |  LATERAL (SELECT unnest(generate_series(0, ${SubstrW - 1})) AS o) g
       |), pp AS (
       |  SELECT doc_id, pos,
       |         max(CASE WHEN boiler THEN 1 ELSE 0 END) AS bb,
       |         SUM(bw) AS bw
       |  FROM rem GROUP BY 1, 2
       |), cnt AS (
       |  SELECT doc_id, count(*) AS n_removed,
       |         CAST(SUM(bb) AS BIGINT) AS boiler_removed,
       |         CAST(SUM(bw) AS BIGINT) AS boiler_windows
       |  FROM pp GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |       COALESCE(c.n_removed, 0) AS n_removed,
       |       ${Det.roundSql(
        "CAST(COALESCE(c.n_removed, 0) AS DOUBLE) / CAST(len(string_split(d.text, ' ')) AS DOUBLE)",
        6)} AS removed_ratio,
       |       COALESCE(c.boiler_windows, 0) AS boiler_windows,
       |       COALESCE(c.boiler_removed, 0) AS boiler_removed
       |FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The stripped corpus itself — the artifact a curation run SHIPS
    * (Lee et al. 2022 apply the removal, they don't just report it):
    * per document, the text with every covered token deleted, carried as
    * md5(stripped text) so the oracle compare stays exact and the output
    * stays bounded (the driver harness hashes result frames; shipping
    * full text would also make the row a near-copy of the input). The
    * removal set is [[stripRemovals]] — identical keep-first rule as
    * the savings report, so (n_tokens, n_removed) here always agree
    * with dedup_substring_strip.
    *
    * Scale shape: removal positions per doc collapse to ONE sorted int
    * array (bounded by the doc's own token count) and join back to the
    * documents scan — document TEXT never shuffles; the strip itself is
    * an in-row kernel: array_except(sequence, rs) builds the kept
    * positions hash-set-style (O(n + r), not O(n·r) array_contains
    * probes), then an element_at transform re-assembles the kept tokens.
    * A doc with no removals strips to its own text (md5 of the original
    * join of tokens — byte-identical to md5(text) only when the doc has
    * no repeated separators; we hash the REJOINED tokens in both engines
    * so the convention is shared).
    */
  def dedupSubstringStripText(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringStripTextOf(Tables.documents(spark, dir))

  private[graft] def dedupSubstringStripTextOf(docs: DataFrame): DataFrame =
    maskedStripReport(docs, stripRemovals(docs).select(col("doc_id"), col("rs")))

  /** The in-row strip kernel shared by the full-corpus and incremental
    * strip-text queries: given per-doc sorted removal-position arrays
    * `rs` (doc_id, rs: array<bigint>), emit (doc_id, n_tokens,
    * n_removed, stripped_md5). Text never shuffles — only the position
    * arrays join to the scan; the kept-position set is built
    * hash-set-style by array_except (O(n + r)).
    */
  private def maskedStripReport(docs: DataFrame, rs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .join(rs, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(size(col("rs")), lit(0)).cast("long").as("n_removed"),
        md5(concat_ws(" ", expr(
          """transform(
            |  array_except(sequence(0L, CAST(size(t) - 1 AS BIGINT)),
            |               coalesce(rs, CAST(array() AS ARRAY<BIGINT>))),
            |  i -> element_at(t, CAST(i AS INT) + 1))""".stripMargin)))
          .as("stripped_md5"))
      .orderBy(col("doc_id"))

  private val dedupSubstringStripTextSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW AND len(w) <= $SpanMaxDocTokens
       |), b AS (
       |  -- keep-first over ALL duplicated windows (boilerplate strips too)
       |  SELECT s, min(doc_id) AS keeper FROM win GROUP BY s
       |  HAVING count(DISTINCT doc_id) >= 2
       |), rem AS (
       |  SELECT DISTINCT w.doc_id, w.p + g.o AS pos
       |  FROM win w
       |  JOIN b ON w.s = b.s AND w.doc_id != b.keeper,
       |  LATERAL (SELECT unnest(generate_series(0, ${SubstrW - 1})) AS o) g
       |), ps AS (
       |  SELECT doc_id, list_sort(list(pos)) AS rs FROM rem GROUP BY doc_id
       |)
       |SELECT t.doc_id,
       |       CAST(len(t.w) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(len(p.rs), 0) AS BIGINT) AS n_removed,
       |       -- a fully-stripped doc: DuckDB's array_to_string([]) is NULL
       |       -- where Spark's concat_ws is '' — pin the '' convention
       |       md5(COALESCE(array_to_string(
       |         list_filter(t.w, (x, i) ->
       |           NOT list_contains(COALESCE(p.rs, []), i - 1)), ' '), ''))
       |         AS stripped_md5
       |FROM t LEFT JOIN ps p ON t.doc_id = p.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Per-doc DISTINCT window-hash stream (doc_id, h) over any
    * (doc_id, text) frame — the probe-side kernel shared by the stored
    * index build and the delta probe. Docs shorter than W have no
    * windows and vanish here (the verdict frame re-adds them by left
    * join).
    */
  private def winDistinct(docs: DataFrame, w: Int = SubstrW): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        when(
          size(col("t")) >= w,
          array_distinct(expr(s"graft_window_hashes(t, $w)")))
          .otherwise(array().cast("array<bigint>")).as("hs"))
      .select(
        col("doc_id"),
        explode(expr("if(size(hs) >= 0, hs, slice(hs, 1, 0))")).as("h"))
  }

  /** The posting lists (h, base_docs) of a base frame — the index
    * CONTENT, factored so Round13AdditionsSpec can build one over
    * planted fixtures without the DerivedCache layer. Posting LISTS are
    * df-capped (they feed the detector's pair expansion), but since
    * round 14 every window keeps a PRESENCE row: boilerplate windows
    * (df > [[SubstrDfCap]]) store an EMPTY posting list instead of
    * vanishing — the detector probe explodes base_docs and is
    * unaffected, while the incremental STRIP probes h-presence only and
    * must see boilerplate (the old capped index silently exempted the
    * most-duplicated text from the strip). The big list is materialized
    * transiently before the cap (exactly as the pre-r14 filter did); a
    * 100 TB build would two-pass this (df aggregate, then capped
    * collect) to keep peak row size bounded.
    */
  private[graft] def substrPostings(base: DataFrame): DataFrame =
    winDistinct(base)
      .groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(
        col("h"),
        when(size(col("ds")) <= SubstrDfCap, col("ds"))
          .otherwise(array().cast("array<bigint>")).as("base_docs"))

  /** The stored window-hash posting index for
    * [[dedupSubstringIncremental]] and its LSM lifecycle — the substring
    * tier's ingest form: inverted lists (window hash → sorted doc ids,
    * see [[substrPostings]]) bucketed by h (the probe key), so a delta
    * probe shuffles only the delta — a plain-parquet index re-shuffles
    * the CORPUS-sized side on every batch, and the incremental tier's
    * cost-∝-delta claim inverts at 100 TB. When a probed batch lands,
    * its postings become their OWN bucketed segment (one rolling-hash
    * pass over the batch) instead of a corpus re-scan; join distributes
    * over union, so each segment is probed exchange-free and only the
    * per-doc aggregation merges the tiers. Compaction folds the STORED
    * postings with the capped merge at [[SubstrDfCap]]. Base v=2 = the
    * bucketed layout.
    */
  private[graft] val SubstrTier = StoredIndex.Tier(
    "substring", s"w=$SubstrW;df=$SubstrDfCap",
    "substr-index" -> 2, "substr-seg" -> 1, "substr-compact" -> 2,
    Seq(StoredIndex.Table(
      "postings", Seq("h"), "h BIGINT, base_docs ARRAY<BIGINT>",
      StoredIndex.capped(Seq("h"), SubstrDfCap))),
    docs => Seq(substrPostings(docs)))

  /** The stored base posting index as a bucketed-table scan. */
  private[operators] def substrIndex(spark: SparkSession, dir: String): DataFrame =
    StoredIndex.tables(spark, dir, SubstrTier, StoredIndex.Base).head

  /** Incremental substring dedup — the ingest form of the strongest
    * exact detector (round-12 gap: the minhash and CDC tiers had
    * dedup_incremental / cdc_incremental; the window-hash tier re-scanned
    * the full corpus every run). Today's batch (the 20% delta) is window-
    * hashed fresh by the O(n) rolling kernel and probed against the
    * STORED posting index: per delta doc, how many of its distinct
    * W-token windows exist verbatim in the base corpus, which base doc
    * shares the most (ties to the smallest id), and the keep/flag
    * verdict. Per-batch cost ∝ delta size — the base is never re-hashed,
    * and only 8-byte hashes + capped posting lists move in the probe
    * join. The delta's rolling kernel runs twice (window count + probe);
    * at O(n) per doc that is cheaper than caching corpus-wide hash
    * arrays across the two consumers.
    *
    * Oracle: DuckDB rebuilds the base posting lists from window STRINGS
    * (the rolling hash is Spark-side only), so a hash collision would
    * surface as a count mismatch — the same collision-audited
    * equivalence dedup_substring uses.
    */
  def dedupSubstringIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringIncrementalOf(
      StoredIndex.deltaDocs(Tables.documents(spark, dir)), substrIndex(spark, dir))

  /** The probe kernel against an arbitrary delta frame + posting index,
    * factored for Round13AdditionsSpec's planted fixtures.
    */
  private[graft] def dedupSubstringIncrementalOf(
      delta: DataFrame, idx: DataFrame): DataFrame = {
    val dwin = winDistinct(delta)
    val nw = dwin.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
    // SHUFFLE_HASH with the DELTA as build side: the stored index scan
    // is already hash-clustered on h (bucketed table), so the join
    // exchanges only the delta and streams the index with no sort — a
    // broadcast here would collapse parallelism to the index's file
    // splits (the round-13 editdist hazard), and SMJ would sort the
    // corpus-sized side
    val best = dwin
      .hint("SHUFFLE_HASH")
      .join(idx, Seq("h"))
      .select(col("doc_id").as("delta_id"), explode(col("base_docs")).as("base_id"))
      .groupBy(col("delta_id"), col("base_id"))
      .agg(count(lit(1)).as("n_shared"))
      // best match + base-match count in ONE aggregation (the
      // incrementalProbe min-struct idiom): min of struct(-n_shared,
      // base_id) IS "most shared windows, ties to the smallest base id"
      .groupBy(col("delta_id"))
      .agg(
        count(lit(1)).as("n_dups"),
        min(struct((-col("n_shared")).as("neg"), col("base_id").as("base_id"))).as("m"))
      .select(
        col("delta_id").as("doc_id"),
        col("n_dups"),
        col("m.base_id").as("dup_of"),
        (-col("m.neg")).as("n_shared"))
    delta
      .select(col("doc_id"))
      .join(nw, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of"),
        col("n_shared"),
        (col("n_shared") + lit((SubstrW - 1).toLong)).as("est_overlap_tokens"),
        col("dup_of").isNull.as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Incremental STRIP — cleaning the incoming batch against the
    * existing corpus, the form an ingest pipeline actually runs: every
    * delta token covered by a W-token window that exists verbatim in the
    * BASE index is removed (the base always keeps — it is already
    * stored; keep-first generalizes to keep-base), and the stripped
    * delta text ships as md5 like dedup_substring_strip_text. Completes
    * the substring tier's ingest story: detect (dedup_substring_
    * incremental) and now transform, both ∝ delta.
    *
    * Scale shape: the delta's positional window stream probes the
    * stored posting index on the 8-byte hash (base doc ids never ship —
    * presence is all the strip needs; the bucketed index streams
    * exchange-free), covered positions collapse per delta doc, and the
    * in-row mask kernel is shared with the full-corpus strip. Since
    * round 14 delta-INTERNAL duplication is also handled: the same
    * keep-first rule runs over the delta alone (cost ∝ delta), so a
    * batch of near-identical new documents no longer lands verbatim —
    * the old fallback (full-corpus re-strip after the batch lands) cost
    * exactly the corpus re-scan the incremental form exists to avoid.
    */
  def dedupSubstringStripIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringStripIncrementalOf(
      StoredIndex.deltaDocs(Tables.documents(spark, dir)), substrIndex(spark, dir))

  private[graft] def dedupSubstringStripIncrementalOf(
      delta: DataFrame, idx: DataFrame): DataFrame = {
    val dwin = delta
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= SubstrW)
      .select(
        col("doc_id"),
        posexplode(expr(
          s"if(size(graft_window_hashes(t, $SubstrW)) >= 0, " +
            s"graft_window_hashes(t, $SubstrW), array())")).as(Seq("p", "h")))
    // INNER join standing in for the old LEFT SEMI: postings h is
    // unique (grouped by h), so the row sets are identical — but a semi
    // join forces the INDEX side to be the hash-map build side in a
    // shuffled hash join, while this form lets the delta build and the
    // bucketed index stream exchange-free (base doc ids still never
    // ship: only h is selected)
    val baseP = dwin
      .hint("SHUFFLE_HASH")
      .join(idx.select(col("h")), Seq("h"))
      .select(col("doc_id"), col("p").cast("long").as("p"))
    // intra-DELTA duplication (closed in round 14): a duplicate-heavy
    // ingest batch used to land verbatim — the same keep-first window
    // rule the full-corpus strip applies now runs on the delta alone
    // (delta-sized, not corpus-sized; windows already covered by the
    // base rule union away). A window present in base strips from ALL
    // delta docs (keep-base); a delta-only duplicated window keeps its
    // first delta occurrence.
    val intraP = stripEntries(delta).select(col("doc_id"), col("p"))
    // the ×W expansion is in-row (the island-flatten kernel), like the
    // full-corpus strip: only one row per removed window occurrence
    // ever moves through a shuffle
    val rs = baseP
      .unionByName(intraP)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
      .select(col("doc_id"), expr(coveredPositionsExpr("ps")).as("rs"))
    maskedStripReport(delta, rs)
  }

  private val dedupSubstringStripIncrementalSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW
       |), idx AS (
       |  -- presence is uncapped since r14: boilerplate windows strip too
       |  SELECT s FROM win WHERE doc_id % 10 < 8 GROUP BY s
       |), dwin AS (
       |  SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE doc_id % 10 >= 8 AND len(w) >= $SubstrW
       |), iwin AS (
       |  -- intra-delta stream mirrors spanWin's packing capacity bound
       |  SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE doc_id % 10 >= 8 AND len(w) >= $SubstrW AND len(w) <= $SpanMaxDocTokens
       |), ib AS (
       |  SELECT s, min(doc_id) AS keeper FROM iwin GROUP BY s
       |  HAVING count(DISTINCT doc_id) >= 2
       |), rem AS (
       |  SELECT DISTINCT d.doc_id, d.p + g.o AS pos
       |  FROM dwin d JOIN idx ON d.s = idx.s,
       |  LATERAL (SELECT unnest(generate_series(0, ${SubstrW - 1})) AS o) g
       |  UNION
       |  SELECT DISTINCT w.doc_id, w.p + g.o AS pos
       |  FROM iwin w JOIN ib ON w.s = ib.s AND w.doc_id != ib.keeper,
       |  LATERAL (SELECT unnest(generate_series(0, ${SubstrW - 1})) AS o) g
       |), ps AS (
       |  SELECT doc_id, list_sort(list(pos)) AS rs FROM rem GROUP BY doc_id
       |)
       |SELECT t.doc_id,
       |       CAST(len(t.w) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(len(p.rs), 0) AS BIGINT) AS n_removed,
       |       md5(COALESCE(array_to_string(
       |         list_filter(t.w, (x, i) ->
       |           NOT list_contains(COALESCE(p.rs, []), i - 1)), ' '), ''))
       |         AS stripped_md5
       |FROM t LEFT JOIN ps p ON t.doc_id = p.doc_id
       |WHERE t.doc_id % 10 >= 8
       |ORDER BY t.doc_id""".stripMargin

  private val dedupSubstringIncrementalSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW
       |), idx AS (
       |  -- win is per-doc distinct, so count(*) IS the document frequency
       |  SELECT s, list_sort(list(doc_id)) AS base_docs
       |  FROM win WHERE doc_id % 10 < 8
       |  GROUP BY s HAVING count(*) <= $SubstrDfCap
       |), dwin AS (
       |  SELECT doc_id, s FROM win WHERE doc_id % 10 >= 8
       |), nw AS (
       |  SELECT doc_id, count(*) AS n_windows FROM dwin GROUP BY 1
       |), pairs AS (
       |  SELECT d.doc_id AS delta_id, b.x AS base_id, count(*) AS n_shared
       |  FROM dwin d JOIN idx ON d.s = idx.s, unnest(idx.base_docs) AS b(x)
       |  GROUP BY 1, 2
       |), best AS (
       |  SELECT delta_id, base_id, n_shared,
       |         row_number() OVER (PARTITION BY delta_id
       |                            ORDER BY n_shared DESC, base_id) AS rn,
       |         count(*) OVER (PARTITION BY delta_id) AS n_dups
       |  FROM pairs
       |)
       |SELECT d.doc_id,
       |       COALESCE(nw.n_windows, 0) AS n_windows,
       |       COALESCE(b.n_dups, 0) AS n_dups,
       |       b.base_id AS dup_of,
       |       b.n_shared,
       |       b.n_shared + ${SubstrW - 1} AS est_overlap_tokens,
       |       b.base_id IS NULL AS keep
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
       |LEFT JOIN nw ON d.doc_id = nw.doc_id
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.delta_id
       |ORDER BY d.doc_id""".stripMargin

  /** Probe across base + appended segments — the read path that makes
    * index APPEND real: batch 2 (`doc_id % 10 == 9`) dedupes against
    * both the original base (`% 10 < 8`) and the previously-ingested
    * batch 1 (`% 10 == 8`, stored as its own bucketed segment by
    * [[SubstrTier]]). Without segments, consecutive batches never see
    * each other until a full index rebuild — exactly the staleness hole
    * a 100 TB ingest pipeline cannot afford. `dup_tier` names where the
    * best match lives ("base" / "seg1"), making cross-batch detection
    * visible in the verdict frame.
    *
    * Scale shape: each segment is probed by its own SHUFFLE_HASH join
    * with the delta as build side (the index scans stream hash-clustered
    * with no Exchange — plan-asserted); per-segment match streams union
    * BEFORE the per-doc aggregation. Probe cost ∝ delta × segments, and
    * the segment count is bounded by compaction
    * ([[dedupSubstringIndexCompact]]) — the LSM read/maintenance split.
    * The df cap applies per segment (each segment's posting lists are
    * capped at build); the global cap is restored at compaction, and
    * [[dedupSubstringIndexCompact]] accounts for the windows whose df
    * crosses the cap only when segments merge.
    */
  def dedupSubstringIndexAppend(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringIndexAppendOf(
      StoredIndex.batchDocs(Tables.documents(spark, dir)),
      StoredIndex.probeLevels(spark, dir, SubstrTier).map { case (l, ts) => l -> ts.head })

  /** The multi-segment probe kernel, factored for planted-fixture specs.
    * Segment doc sets must be disjoint (an LSM invariant: a doc lands in
    * exactly one segment), so (delta_id, match_id) is unique across
    * tiers and the min-struct tie-break never reaches the tier field.
    */
  private[graft] def dedupSubstringIndexAppendOf(
      delta: DataFrame, segs: Seq[(String, DataFrame)]): DataFrame =
    dedupSubstringIndexAppendUnorderedOf(delta, segs)
      .orderBy(col("doc_id"))

  /** The same kernel WITHOUT the presentation sort, and with per-row
    * independent verdicts — the property that lets the streaming leg
    * (stream_substr_ingest) drive it per micro-batch and union to the
    * byte-identical table. `deltaIsSmall` = caller guarantees a bounded
    * micro-batch: the delta side broadcasts (exchange-free everywhere)
    * instead of SHUFFLE_HASH-building against the bucketed scans.
    */
  private[graft] def dedupSubstringIndexAppendUnorderedOf(
      delta: DataFrame, segs: Seq[(String, DataFrame)],
      deltaIsSmall: Boolean = false): DataFrame = {
    def hinted(df: DataFrame): DataFrame =
      if (deltaIsSmall) broadcast(df) else df.hint("SHUFFLE_HASH")
    // one probe join per segment, each exchange-free on the index side
    // (same plan discipline as dedupSubstringIncrementalOf). The window
    // stream feeds nw + one probe per segment: on the CORPUS-proportional
    // batch path the O(n) rolling kernel re-runs per consumer — cheaper
    // than checkpointing corpus-wide hash streams — but a bounded
    // micro-batch (streaming ingest) pays three delta scans + hash
    // passes PER BATCH for a frame that fits in one local block, so
    // there the stream is cut once (lazy: the first consumer
    // materializes it) and shared.
    val dwin =
      if (deltaIsSmall) graft.Ckpt.cut(winDistinct(delta), eager = false)
      else winDistinct(delta)
    val nw = dwin.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
    val matches = segs.map { case (tier, idx) =>
      hinted(dwin)
        .join(idx, Seq("h"))
        .select(
          col("doc_id").as("delta_id"),
          explode(col("base_docs")).as("match_id"),
          lit(tier).as("tier"))
    }.reduce(_ unionByName _)
    val best = matches
      .groupBy(col("delta_id"), col("match_id"), col("tier"))
      .agg(count(lit(1)).as("n_shared"))
      .groupBy(col("delta_id"))
      .agg(
        count(lit(1)).as("n_dups"),
        min(struct(
          (-col("n_shared")).as("neg"),
          col("match_id").as("mid"),
          col("tier").as("tier"))).as("m"))
      .select(
        col("delta_id").as("doc_id"),
        col("n_dups"),
        col("m.mid").as("dup_of"),
        col("m.tier").as("dup_tier"),
        (-col("m.neg")).as("n_shared"))
    delta
      .select(col("doc_id"))
      .join(nw, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of"),
        col("dup_tier"),
        col("n_shared"),
        (col("n_shared") + lit((SubstrW - 1).toLong)).as("est_overlap_tokens"),
        col("dup_of").isNull.as("keep"))
  }

  private[graft] val dedupSubstringIndexAppendSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW
       |), idx0 AS (
       |  -- the base index: df cap per SEGMENT (win is per-doc distinct)
       |  SELECT s, list_sort(list(doc_id)) AS base_docs
       |  FROM win WHERE doc_id % 10 < 8
       |  GROUP BY s HAVING count(*) <= $SubstrDfCap
       |), idx1 AS (
       |  -- the appended batch-1 segment, capped independently
       |  SELECT s, list_sort(list(doc_id)) AS base_docs
       |  FROM win WHERE doc_id % 10 = 8
       |  GROUP BY s HAVING count(*) <= $SubstrDfCap
       |), dwin AS (
       |  SELECT doc_id, s FROM win WHERE doc_id % 10 = 9
       |), nw AS (
       |  SELECT doc_id, count(*) AS n_windows FROM dwin GROUP BY 1
       |), pairs AS (
       |  SELECT d.doc_id AS delta_id, b.x AS match_id, 'base' AS tier,
       |         count(*) AS n_shared
       |  FROM dwin d JOIN idx0 ON d.s = idx0.s, unnest(idx0.base_docs) AS b(x)
       |  GROUP BY 1, 2, 3
       |  UNION ALL
       |  SELECT d.doc_id, b.x, 'seg1', count(*)
       |  FROM dwin d JOIN idx1 ON d.s = idx1.s, unnest(idx1.base_docs) AS b(x)
       |  GROUP BY 1, 2, 3
       |), best AS (
       |  SELECT delta_id, match_id, tier, n_shared,
       |         row_number() OVER (PARTITION BY delta_id
       |                            ORDER BY n_shared DESC, match_id) AS rn,
       |         count(*) OVER (PARTITION BY delta_id) AS n_dups
       |  FROM pairs
       |)
       |SELECT d.doc_id,
       |       COALESCE(nw.n_windows, 0) AS n_windows,
       |       COALESCE(b.n_dups, 0) AS n_dups,
       |       b.match_id AS dup_of,
       |       b.tier AS dup_tier,
       |       b.n_shared,
       |       b.n_shared + ${SubstrW - 1} AS est_overlap_tokens,
       |       b.match_id IS NULL AS keep
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
       |LEFT JOIN nw ON d.doc_id = nw.doc_id
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.delta_id
       |ORDER BY d.doc_id""".stripMargin

  /** Compact the base index + the batch-1 segment into one globally
    * df-capped index (stored bucketed, build-once), and report what the
    * merge changed: per resulting tier (unique / cold / boiler by the
    * MERGED df), the window count, surviving posting entries, windows
    * present in both inputs, and — the number the per-segment cap hides
    * — the CAP CROSSERS: windows cold in every segment individually but
    * boilerplate once merged (df_base ≤ cap ∧ df_seg ≤ cap ∧ sum > cap).
    * Those windows' posting lists would feed the detector's pair
    * expansion on a segmented read; compaction reclassifies them, which
    * is why an LSM index must compact rather than accrete forever.
    * StoredIndexSpec pins the stored compacted layout to be
    * row-identical to a from-scratch build over base ∪ batch-1 docs.
    */
  def dedupSubstringIndexCompact(spark: SparkSession, dir: String): DataFrame =
    StoredIndex.cappedCompaction(spark, dir, SubstrTier, "boiler", "n_windows")

  private val dedupSubstringIndexCompactSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW
       |), d AS (
       |  -- per-window df split by segment (base = %10<8, seg1 = %10=8);
       |  -- the merged representation keeps size = total df when <= cap,
       |  -- 0 (presence only) when boilerplate in ANY input or merged
       |  SELECT s,
       |         count(*) FILTER (WHERE doc_id % 10 < 8) AS dfb,
       |         count(*) FILTER (WHERE doc_id % 10 = 8) AS dfs
       |  FROM win WHERE doc_id % 10 < 9
       |  GROUP BY s
       |), m AS (
       |  SELECT s, dfb, dfs, dfb + dfs AS df,
       |         CASE WHEN dfb + dfs > $SubstrDfCap THEN 0
       |              ELSE dfb + dfs END AS entries
       |  FROM d
       |)
       |SELECT CASE WHEN entries = 0 THEN 'boiler'
       |            WHEN entries = 1 THEN 'unique'
       |            ELSE 'cold' END AS tier,
       |       count(*) AS n_windows,
       |       CAST(SUM(entries) AS BIGINT) AS n_entries,
       |       CAST(SUM(CASE WHEN dfb > 0 AND dfs > 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_in_both,
       |       CAST(SUM(CASE WHEN dfb BETWEEN 1 AND $SubstrDfCap
       |                      AND dfs BETWEEN 1 AND $SubstrDfCap
       |                      AND dfb + dfs > $SubstrDfCap
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cap_crossers
       |FROM m
       |GROUP BY 1
       |ORDER BY tier""".stripMargin

  // ------------------------------------- cross-tier maintenance advisory

  /** Segment-mass ratio above which the advisory says compact: once
    * the appended segment holds ≥ 20% of the base's keys, per-probe
    * cost (one join per segment) and per-segment cap drift both grow
    * past what the segmented read path is meant to amortize.
    */
  private val MaintSegRatio = 0.2

  /** Cross-tier index maintenance advisory — the `compaction_plan`
    * pattern (surface the maintenance decision as data) applied to the
    * three LSM index tiers. For each stored index (substring postings,
    * minhash band buckets, CDC chunk store): segment count, base/seg
    * key counts, the merge-conflict mass, the seg/base ratio, and the
    * verdict. Everything is computed from the STORED bucketed tables
    * alone (each tier's full-outer merge join is exchange-free), never
    * from corpus text — the shape of a morning maintenance planner at
    * 100 TB, where the decision to spend a compaction run must itself
    * cost only index metadata.
    *
    * `n_crossers` per tier: substring/minhash = keys under the df/bucket
    * cap in every segment individually but OVER it merged (detector
    * quality silently degrades until compaction reclassifies them);
    * CDC = chunks stored in both tiers (bytes stored twice until the
    * merge). The advisory is `compact_now` when crossers exist or the
    * segment outgrows [[MaintSegRatio]]; StoredIndexSpec plants a
    * crosser-heavy corpus and asserts the verdict flips.
    */
  def indexMaintenancePlan(spark: SparkSession, dir: String): DataFrame = {
    Seq(SubstrTier, Dedup.MinhashTier, CdcTier)
      .map(StoredIndex.maintenanceRow(spark, dir, _))
      .reduce(_ unionByName _)
      .withColumn(
        "seg_ratio",
        when(col("base_keys") === 0, lit(null).cast("double"))
          .otherwise(Det.detRound(
            col("seg_keys").cast("double") / col("base_keys"), 6)))
      .select(
        col("tier"),
        lit(2L).as("n_segments"),
        col("base_keys"), col("seg_keys"), col("n_crossers"),
        col("seg_ratio"),
        when(
          col("n_crossers") > 0 ||
            (col("seg_ratio").isNotNull && col("seg_ratio") >= MaintSegRatio),
          "compact_now").otherwise("ok").as("advisory"))
      .orderBy(col("tier"))
  }

  private val indexMaintenancePlanSql =
    s"""$chunkSqlBody, ${Dedup.minhashSqlPrefix(Dedup.MinhashK)},
       |win AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW
       |), rows3 AS (
       |  SELECT 'substring' AS tier,
       |         CAST(count(*) FILTER (WHERE dfb > 0) AS BIGINT) AS base_keys,
       |         CAST(count(*) FILTER (WHERE dfs > 0) AS BIGINT) AS seg_keys,
       |         CAST(COALESCE(SUM(CASE WHEN dfb BETWEEN 1 AND $SubstrDfCap
       |                                 AND dfs BETWEEN 1 AND $SubstrDfCap
       |                                 AND dfb + dfs > $SubstrDfCap
       |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS n_crossers
       |  FROM (
       |    SELECT s,
       |           count(*) FILTER (WHERE doc_id % 10 < 8) AS dfb,
       |           count(*) FILTER (WHERE doc_id % 10 = 8) AS dfs
       |    FROM win WHERE doc_id % 10 < 9
       |    GROUP BY s
       |  )
       |  UNION ALL
       |${Dedup.minhashMaintenanceRowSql.linesIterator.map("  " + _).mkString("\n")}
       |  UNION ALL
       |  SELECT 'cdc',
       |         CAST(count(*) FILTER (WHERE ob > 0) AS BIGINT),
       |         CAST(count(*) FILTER (WHERE os > 0) AS BIGINT),
       |         CAST(COALESCE(SUM(CASE WHEN ob > 0 AND os > 0
       |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
       |  FROM (
       |    SELECT chunk_md5,
       |           count(*) FILTER (WHERE doc_id % 10 < 8) AS ob,
       |           count(*) FILTER (WHERE doc_id % 10 = 8) AS os
       |    FROM ch WHERE doc_id % 10 < 9
       |    GROUP BY chunk_md5
       |  )
       |)
       |SELECT tier, CAST(2 AS BIGINT) AS n_segments,
       |       base_keys, seg_keys, n_crossers,
       |       CASE WHEN base_keys = 0 THEN NULL
       |            ELSE ${Det.roundSql(
        "CAST(seg_keys AS DOUBLE) / base_keys", 6)} END AS seg_ratio,
       |       CASE WHEN n_crossers > 0
       |              OR (base_keys > 0 AND ${Det.roundSql(
        "CAST(seg_keys AS DOUBLE) / base_keys", 6)} >= $MaintSegRatio)
       |            THEN 'compact_now' ELSE 'ok' END AS advisory
       |FROM rows3
       |ORDER BY tier""".stripMargin

  private val dedupSubstringSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW
       |), cold AS (
       |  SELECT * FROM win WHERE s IN (
       |    SELECT s FROM win GROUP BY s HAVING count(*) BETWEEN 2 AND $SubstrDfCap)
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, n_shared,
       |       n_shared + ${SubstrW - 1} AS est_overlap_tokens
       |FROM pairs
       |ORDER BY n_shared DESC, doc_a, doc_b
       |LIMIT $SubstrTopK""".stripMargin

  /** Window lengths the W curve prices. 50 is the shipped SubstrW (the
    * Lee et al. 2022 target length); 25 halves it (aggressive — more
    * matches, more false positives below the target length), 100 doubles
    * it (conservative — verbatim runs of 50–99 tokens become invisible).
    */
  private val WCurveArms = Seq(25, 50, 100)

  /** Substring-W tuning curve — W is dedup_substring's only free
    * parameter, and every other tuned family (LSH bands, minhash k,
    * nprobe, simhash threshold) has its pricing curve. For each W the
    * same sampled corpus is window-hashed in one O(n) pass and the
    * posting-list stats + pair yield are priced against the W=50 anchor:
    *   - n_dup_windows / n_hot_windows: inverted-index health (hot =
    *     above the df cap, dropped as boilerplate — cap loss);
    *   - n_docs_covered: docs carrying at least one duplicated window;
    *   - n_pairs: distinct doc pairs sharing >= 1 window at this W;
    *   - vs50_extra_rate: fraction of this W's pairs NOT found at the
    *     target length — sub-target matches a halved W would flag
    *     (pairs(50) ⊆ pairs(25) up to cap loss, so this prices the
    *     false-match cost of shrinking W);
    *   - vs50_recall: fraction of the W=50 anchor pairs this W retains
    *     (doubling W loses every 50–99-token overlap — the recall cost
    *     of growing W).
    * Above [[Dedup.SweepDocCap]] the whole curve runs on the shared
    * deterministic 1/m doc-hash sample (every arm sampled identically,
    * so the RELATIVE comparison survives; bucket thresholds stated in
    * full-corpus units size·m, the lsh_band_sweep discipline). Below the
    * cap m = 1 — the oracle form.
    */
  def substringWCurve(spark: SparkSession, dir: String): DataFrame =
    substringWCurveGuarded(spark, dir, Dedup.SweepDocCap)

  private[graft] def substringWCurveGuarded(
      spark: SparkSession, dir: String, cap: Long): DataFrame = {
    import graft.Ckpt.CutOps
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    val (docs, m) = Dedup.sampleAboveCap(
      "substring_w_curve", Tables.documents(spark, dir), nDocs, cap)
    def pairsOf(dup: DataFrame): DataFrame = dup
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a"), explode(expr("slice(ds, i + 2, size(ds))")).as("b"))
      .dropDuplicates("a", "b")
    // ONE corpus pass builds every arm's buckets: the parameter axis is
    // data (guide §2.3/§6 — per-point re-plans re-scan and re-tokenize
    // the same corpus). Tokenize/split once, window-hash each arm inside
    // the same projection (w must be a LITERAL per element —
    // graft_window_hashes reads its width at registration), one grouped
    // frame tagged by w, one lazy cut shared by every stat — was three
    // winDistinct scans + three checkpoints. The if() generator wrapper
    // keeps InferFiltersFromGenerate from substituting the hash chain
    // into a pushed filter (the shingleIndex lesson).
    val armStructs = WCurveArms.map(w =>
      s"""struct(CAST($w AS INT) AS w,
         |  IF(size(t) >= $w, array_distinct(graft_window_hashes(t, $w)),
         |     CAST(array() AS ARRAY<BIGINT>)) AS hs)""".stripMargin)
      .mkString(", ")
    val bucketsAll = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(s"array($armStructs)")).as("a"))
      .select(
        col("doc_id"), col("a.w").as("w"),
        explode(expr("if(size(a.hs) >= 0, a.hs, slice(a.hs, 1, 0))")).as("h"))
      .groupBy(col("w"), col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .cutLineage(eager = false)
    val bucketsByW = WCurveArms.map(w =>
      w -> bucketsAll.filter(col("w") === w).select(col("h"), col("ds"))).toMap
    def dupOf(buckets: DataFrame): DataFrame = buckets.filter(
      size(col("ds")) >= 2 && size(col("ds")) * lit(m) <= SubstrDfCap)
    // the anchor's pair set feeds every arm's comparison join — cut once
    val p50 = pairsOf(dupOf(bucketsByW(SubstrW))).cutLineage(eager = false)
    val n50 = p50.agg(count(lit(1)).as("n50"))
    WCurveArms.map { w =>
      val buckets = bucketsByW(w)
      val dup = dupOf(buckets)
      val nHot = buckets
        .filter(size(col("ds")) * lit(m) > SubstrDfCap)
        .agg(count(lit(1)).as("n_hot_windows"))
      val nDup = dup.agg(count(lit(1)).as("n_dup_windows"))
      val nCov = dup
        .select(explode(col("ds")).as("d"))
        .agg(countDistinct(col("d")).as("n_docs_covered"))
      val pw = if (w == SubstrW) p50 else pairsOf(dup)
      val vs = pw
        .join(p50.select(col("a"), col("b"), lit(1).as("in50")), Seq("a", "b"), "left")
        .agg(
          count(lit(1)).as("n_pairs"),
          // empty pair set: SUM over zero rows is NULL, not 0
          coalesce(sum(when(col("in50").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_extra"))
      nDup.crossJoin(nHot).crossJoin(nCov).crossJoin(vs).crossJoin(n50)
        .select(
          lit(w.toLong).as("w"),
          col("n_dup_windows"), col("n_hot_windows"), col("n_docs_covered"),
          col("n_pairs"),
          when(col("n_pairs") > 0,
            Det.detRound(col("n_extra").cast("double") / col("n_pairs"), 6))
            .otherwise(lit(0.0)).as("vs50_extra_rate"),
          when(col("n50") > 0,
            Det.detRound(
              (col("n_pairs") - col("n_extra")).cast("double") / col("n50"), 6))
            .otherwise(lit(0.0)).as("vs50_recall"))
    }.reduce(_ unionAll _)
      .orderBy(col("w"))
  }

  /** DuckDB twin: one window CTE per W over window STRINGS, bucket df
    * stats, distinct-pair self-joins, and the same anchor comparisons
    * (m = 1 at every oracle-checked scale).
    */
  private val substringWCurveSql = {
    def chain(w: Int) =
      s"""win_$w AS (
         |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${w - 1}], ' ') AS s
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${w - 1})) AS i)
         |  WHERE len(w) >= $w
         |), bu_$w AS (
         |  SELECT s, count(*) AS df FROM win_$w GROUP BY s
         |), pd_$w AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM win_$w a JOIN win_$w b ON a.s = b.s AND a.doc_id < b.doc_id
         |  WHERE a.s IN (SELECT s FROM bu_$w WHERE df BETWEEN 2 AND $SubstrDfCap)
         |)""".stripMargin
    def arm(w: Int) =
      s"""  SELECT CAST($w AS BIGINT) AS w,
         |    (SELECT count(*) FROM bu_$w WHERE df BETWEEN 2 AND $SubstrDfCap) AS n_dup_windows,
         |    (SELECT count(*) FROM bu_$w WHERE df > $SubstrDfCap) AS n_hot_windows,
         |    (SELECT count(DISTINCT doc_id) FROM win_$w
         |     WHERE s IN (SELECT s FROM bu_$w WHERE df BETWEEN 2 AND $SubstrDfCap))
         |      AS n_docs_covered,
         |    (SELECT count(*) FROM pd_$w) AS n_pairs,
         |    CASE WHEN (SELECT count(*) FROM pd_$w) > 0
         |         THEN ${Det.roundSql(
        s"(SELECT CAST(count(*) AS DOUBLE) FROM pd_$w p LEFT JOIN pd_$SubstrW q " +
          s"ON p.da = q.da AND p.db = q.db WHERE q.da IS NULL) / " +
          s"(SELECT count(*) FROM pd_$w)", 6)}
         |         ELSE 0.0 END AS vs50_extra_rate,
         |    CASE WHEN (SELECT count(*) FROM pd_$SubstrW) > 0
         |         THEN ${Det.roundSql(
        s"(SELECT CAST(count(*) AS DOUBLE) FROM pd_$w p JOIN pd_$SubstrW q " +
          s"ON p.da = q.da AND p.db = q.db) / " +
          s"(SELECT count(*) FROM pd_$SubstrW)", 6)}
         |         ELSE 0.0 END AS vs50_recall""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |),
       |${WCurveArms.map(chain).mkString(",\n")}
       |${WCurveArms.map(arm).mkString("\nUNION ALL\n")}
       |ORDER BY w""".stripMargin
  }

  /** Corpus-wide window-duplication profile — the accounting view over
    * the W-token window stream that tells a curation run what each
    * duplication tier holds BEFORE it strips: per tier (unique df=1,
    * cold 2..SubstrDfCap, boiler >SubstrDfCap), the distinct window
    * count, total occurrences, strippable DOC-occurrences (df−1 per window —
    * the windows keep-first would remove counting each window ONCE per
    * additional DOC that carries it; winDistinct collapses within-doc
    * repeats, so a window repeating inside one non-keeper doc still
    * counts once here even though the positional strip removes every
    * repeat), and documents touched. This is
    * the corpus-level companion of dedup_substring_strip's per-doc
    * boiler_* columns (round-13 verdict: the df cap discarded mass with
    * no visible signal — now both grains report it).
    *
    * Scale shape: one rolling-hash pass, a (h → df) aggregate, and a
    * join back to the window stream that reuses the same h
    * partitioning; only 8-byte hashes and doc ids move. Oracle rebuilds
    * the profile from window STRINGS, so hash collisions would surface
    * as count mismatches (the tier's standing collision audit).
    */
  def substrDfProfile(spark: SparkSession, dir: String): DataFrame = {
    // the window stream feeds TWO plan branches (the df aggregate and
    // the per-doc join probe); persisted so the rolling-hash pass over
    // the corpus runs once, not twice — the minhashBandsOf persistSigs
    // pattern, released like it by the harness (QueryState.release
    // between queries) or the block manager's LRU in a long session.
    val w = winDistinct(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perWin = w.groupBy(col("h")).agg(count(lit(1)).as("df"))
    def tier(c: org.apache.spark.sql.Column) =
      when(c === 1, "unique")
        .when(c <= SubstrDfCap, "cold")
        .otherwise("boiler")
    val byWin = perWin
      .select(tier(col("df")).as("tier"), col("df"))
      .groupBy(col("tier"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(col("df")).as("n_occurrences"),
        sum(col("df") - 1).as("strippable_doc_occurrences"))
    val byDoc = w
      .join(perWin, Seq("h"))
      .select(tier(col("df")).as("tier"), col("doc_id"))
      .groupBy(col("tier"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    byWin.join(byDoc, Seq("tier")).orderBy(col("tier"))
  }

  private val substrDfProfileSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), win AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SubstrW - 1}], ' ') AS s
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - ${SubstrW - 1})) AS i)
       |  WHERE len(w) >= $SubstrW
       |), d AS (
       |  SELECT s, count(*) AS df,
       |         CASE WHEN count(*) = 1 THEN 'unique'
       |              WHEN count(*) <= $SubstrDfCap THEN 'cold'
       |              ELSE 'boiler' END AS tier
       |  FROM win GROUP BY s
       |), byw AS (
       |  SELECT tier, count(*) AS n_windows,
       |         CAST(SUM(df) AS BIGINT) AS n_occurrences,
       |         CAST(SUM(df - 1) AS BIGINT) AS strippable_doc_occurrences
       |  FROM d GROUP BY tier
       |), bd AS (
       |  SELECT d.tier, count(DISTINCT w.doc_id) AS n_docs
       |  FROM win w JOIN d ON w.s = d.s GROUP BY d.tier
       |)
       |SELECT b.tier, b.n_windows, b.n_occurrences, b.strippable_doc_occurrences,
       |       bd.n_docs
       |FROM byw b JOIN bd ON b.tier = bd.tier
       |ORDER BY b.tier""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "substring_w_curve" -> QueryDef(substringWCurve, Some(substringWCurveSql)),
    "substr_df_profile" -> QueryDef(substrDfProfile, Some(substrDfProfileSql)),
    "dedup_substring"     -> QueryDef(dedupSubstring, Some(dedupSubstringSql)),
    "dedup_substring_spans" -> QueryDef(
      dedupSubstringSpans, Some(dedupSubstringSpansSql)),
    "dedup_substring_strip" -> QueryDef(
      dedupSubstringStrip, Some(dedupSubstringStripSql)),
    "dedup_substring_strip_text" -> QueryDef(
      dedupSubstringStripText, Some(dedupSubstringStripTextSql)),
    "dedup_substring_incremental" -> QueryDef(
      dedupSubstringIncremental, Some(dedupSubstringIncrementalSql)),
    "dedup_substring_strip_incremental" -> QueryDef(
      dedupSubstringStripIncremental, Some(dedupSubstringStripIncrementalSql)),
    "dedup_substring_index_append" -> QueryDef(
      dedupSubstringIndexAppend, Some(dedupSubstringIndexAppendSql)),
    "dedup_substring_index_compact" -> QueryDef(
      dedupSubstringIndexCompact, Some(dedupSubstringIndexCompactSql)),
    "cdc_chunk_dedup"     -> QueryDef(cdcChunkDedup, Some(cdcChunkDedupSql)),
    "cdc_dedup_ratio"     -> QueryDef(cdcDedupRatio, Some(cdcDedupRatioSql)),
    "cdc_incremental"     -> QueryDef(cdcIncremental, Some(cdcIncrementalSql)),
    "cdc_store_append"    -> QueryDef(cdcStoreAppend, Some(cdcStoreAppendSql)),
    "cdc_store_compact"   -> QueryDef(cdcStoreCompact, Some(cdcStoreCompactSql)),
    "index_maintenance_plan" -> QueryDef(
      indexMaintenancePlan, Some(indexMaintenancePlanSql)),
    "dup_spans"           -> QueryDef(dupSpans, Some(dupSpansSql)),
    "split_contamination" -> QueryDef(splitContamination, Some(splitContaminationSql)))
}
