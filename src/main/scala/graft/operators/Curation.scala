package graft.operators

import graft.{Det, QueryDef, Tables}
import graft.Ckpt.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation tier (round 3): the filtering/sampling/
  * scrubbing passes a pre-training pipeline runs between raw crawl and
  * tokenization, each oracle-checked against DuckDB.
  *
  *  - repetition quality rules (the Gopher-style "most common word /
  *    bigram share" gates) — dataflow aggregates whose per-doc group
  *    cardinality is bounded by doc vocabulary, so map-side partial
  *    aggregation absorbs the explode before the shuffle;
  *  - deterministic fixed-budget sampling per stratum — hash-ordered
  *    row_number, which WindowTopKRewrite lowers to the bounded-heap
  *    TopKPerKey operator (no per-stratum sort at 100 TB);
  *  - PII scrubbing — per-row regexp redaction, embarrassingly parallel.
  */
object Curation {

  /** Gopher-style repetition metrics per document (Rae et al. 2021,
    * public): share of the most frequent word, share of the most
    * frequent bigram, distinct-token ratio, and the resulting
    * "repetitive" gate. Two bounded aggregates (per-doc vocab ≤ doc
    * length) joined on doc_id — the join keys share partitioning, so
    * AQE plans a single exchange per side at any scale.
    */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')").as("t"))
      .filter(size(col("t")) >= 2)
    // both frequency tables computed IN-ROW (GramStats kernel): the old
    // explode → groupBy(doc, gram) → groupBy(doc) pair of pipelines
    // shuffled every token and bigram occurrence twice and joined the
    // doc-level results back — per-doc stats never need to leave the row
    // (guide §2.4). Same groups (the kernel keys on the identical
    // ' '-joined gram), so every emitted value is unchanged.
    val uni = base
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_toks"),
        expr("graft_gram_stats(t, 1)").as("u"),
        expr("graft_gram_stats(t, 2)").as("b"))
      .select(
        col("doc_id"), col("n_toks"),
        col("u.top_cnt").as("top_tok_cnt"), col("u.nd").as("n_distinct"),
        col("b.top_cnt").as("top_bg_cnt"))
    val topTokShare = col("top_tok_cnt").cast("double") / col("n_toks")
    val topBgShare  = col("top_bg_cnt").cast("double") / (col("n_toks") - 1)
    uni
      .select(
        col("doc_id"),
        col("n_toks"),
        Det.detRound(topTokShare, 4).as("top_token_share"),
        Det.detRound(topBgShare, 4).as("top_bigram_share"),
        Det.detRound(col("n_distinct").cast("double") / col("n_toks"), 4)
          .as("distinct_ratio"),
        (topTokShare > 0.2 || topBgShare > 0.18).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  private val docRepetitionSql =
    s"""WITH base AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
       |  FROM documents
       |), docs AS (
       |  SELECT doc_id, t FROM base WHERE len(t) >= 2
       |), toks AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks, unnest(t) AS tok FROM docs
       |), tokcnt AS (
       |  SELECT doc_id, n_toks, tok, count(*) AS cnt
       |  FROM toks GROUP BY doc_id, n_toks, tok
       |), uni AS (
       |  SELECT doc_id, n_toks, MAX(cnt) AS top_tok_cnt, count(*) AS n_distinct
       |  FROM tokcnt GROUP BY doc_id, n_toks
       |), bgs AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
       |  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
       |), bgcnt AS (
       |  SELECT doc_id, bg, count(*) AS cnt FROM bgs GROUP BY doc_id, bg
       |), bi AS (
       |  SELECT doc_id, MAX(cnt) AS top_bg_cnt FROM bgcnt GROUP BY doc_id
       |)
       |SELECT u.doc_id, u.n_toks,
       |       ${Det.roundSql("CAST(u.top_tok_cnt AS DOUBLE) / u.n_toks", 4)} AS top_token_share,
       |       ${Det.roundSql("CAST(b.top_bg_cnt AS DOUBLE) / (u.n_toks - 1)", 4)} AS top_bigram_share,
       |       ${Det.roundSql("CAST(u.n_distinct AS DOUBLE) / u.n_toks", 4)} AS distinct_ratio,
       |       (CAST(u.top_tok_cnt AS DOUBLE) / u.n_toks > 0.2
       |        OR CAST(b.top_bg_cnt AS DOUBLE) / (u.n_toks - 1) > 0.18) AS repetitive
       |FROM uni u JOIN bi b ON u.doc_id = b.doc_id
       |ORDER BY u.doc_id""".stripMargin

  /** Deterministic fixed-budget sample: k docs per language, ordered by
    * md5(doc_id) — a seeded shuffle both engines compute identically
    * (hex strings compare equal in any collation). The row_number ≤ k
    * window is lowered to the bounded-heap TopKPerKey operator by
    * WindowTopKRewrite, so no stratum is ever fully sorted — the 100 TB
    * form of "give me a reproducible 10k-doc eval slice per language".
    */
  def samplePerLang(spark: SparkSession, dir: String): DataFrame = {
    val k = 20
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables
      .documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"), col("source"))
      .orderBy(asc_nulls_last("lang"), col("rk"))
  }

  private val samplePerLangSql =
    """SELECT lang, rk, doc_id, source FROM (
      |  SELECT lang, doc_id, source,
      |         row_number() OVER (
      |           PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents
      |) WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin

  // conservative patterns that parse identically under Java regex and
  // RE2 (DuckDB): no backrefs, no lookaround, explicit classes only
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val UrlRe   = "https?://[^ ]+"
  private[operators] val DigitRe = "[0-9]{6,}"

  /** Scrub core over any (doc_id, source, text) frame: redact emails,
    * then URLs, then long digit runs (order matters — a URL can contain
    * a digit run), count each, and measure removed characters. Pure
    * per-row work. Exercised on a PII fixture in CurationSpec; the
    * driver corpus contains no PII (word-only synthetic text), so the
    * registered query proves the regex/replacement parity of the
    * pipeline there, not recall.
    */
  def scrubText(docs: DataFrame): DataFrame =
    // patterns go through the DSL (lit(...)), NEVER through expr(...):
    // the SQL parser would unescape '\\.' to '.', silently giving the
    // counters a different pattern than the redaction and the oracle
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("s1", regexp_replace(col("text"), EmailRe, "<EMAIL>"))
      .withColumn("n_urls",
        size(regexp_extract_all(col("s1"), lit(UrlRe), lit(0))).cast("long"))
      .withColumn("s2", regexp_replace(col("s1"), UrlRe, "<URL>"))
      .withColumn("n_digit_runs",
        size(regexp_extract_all(col("s2"), lit(DigitRe), lit(0))).cast("long"))
      .withColumn("scrubbed", regexp_replace(col("s2"), DigitRe, "<NUM>"))

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    // scan-fan (guide §2.5): three regex scrub passes per document
    scrubText(Tables.documentsFanned(spark, dir).select(col("doc_id"), col("source"), col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("emails"),
        sum(col("n_urls")).as("urls"),
        sum(col("n_digit_runs")).as("digit_runs"),
        sum(length(col("text")) - length(col("scrubbed"))).cast("long")
          .as("chars_removed"))
      .orderBy(asc_nulls_last("source"))

  private val piiScrubSql =
    s"""WITH s AS (
       |  SELECT source, text,
       |         len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |         regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS s1
       |  FROM documents
       |), s2 AS (
       |  SELECT source, text, n_emails,
       |         len(regexp_extract_all(s1, '$UrlRe')) AS n_urls,
       |         regexp_replace(s1, '$UrlRe', '<URL>', 'g') AS s2
       |  FROM s
       |), s3 AS (
       |  SELECT source, text, n_emails, n_urls,
       |         len(regexp_extract_all(s2, '$DigitRe')) AS n_digit_runs,
       |         regexp_replace(s2, '$DigitRe', '<NUM>', 'g') AS scrubbed
       |  FROM s2
       |)
       |SELECT source,
       |       count(*) AS n_docs,
       |       CAST(SUM(n_emails) AS BIGINT) AS emails,
       |       CAST(SUM(n_urls) AS BIGINT) AS urls,
       |       CAST(SUM(n_digit_runs) AS BIGINT) AS digit_runs,
       |       CAST(SUM(len(text) - len(scrubbed)) AS BIGINT) AS chars_removed
       |FROM s3
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Tokenizer-prep vocabulary pass: build the top-V corpus vocabulary
    * (count desc, token asc — fully tie-broken), then score every doc's
    * out-of-vocabulary rate against it. V=16 here so the measure is
    * non-degenerate on the synthetic 31-word corpus; a production run
    * uses V≈50k — the plan is identical: one token-count shuffle with
    * map-side partials, a tiny broadcast vocab join, one per-doc
    * aggregate. The OOV rate is the standard "will my tokenizer shred
    * this document" curation signal.
    */
  def vocabOov(spark: SparkSession, dir: String): DataFrame = {
    val V = 16
    val toks = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        explode(expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).as("tok"))
    val vocab = toks
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok"))
      .limit(V)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(
        col("doc_id"),
        col("n_toks"),
        col("n_oov"),
        Det.detRound(col("n_oov").cast("double") / col("n_toks"), 4).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  private val vocabOovSql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
       |  FROM documents
       |), vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
       |    ORDER BY cnt DESC, tok LIMIT 16
       |  )
       |)
       |SELECT t.doc_id,
       |       count(*) AS n_toks,
       |       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       ${Det.roundSql(
        "CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)} AS oov_rate
       |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Temperature-based source mixing weights (the multilingual /
    * multi-source data-mixing formula, T=2 ⇒ α=0.5): w_i = √n_i / Σ√n_j
    * — upweights small sources relative to proportional sampling.
    * α=0.5 deliberately uses `sqrt` (IEEE-correctly-rounded in BOTH
    * engines) rather than `pow` (not correctly-rounded, last-ulp
    * divergence would break the hash oracle); the Σ√n_j accumulates in
    * DECIMAL so the denominator is order-independent. One tiny
    * aggregate — per-source cardinality, not per-doc.
    */
  def sourceMixWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val withSq = per.withColumn("sq", sqrt(col("n_docs").cast("double")))
    val denom = withSq
      .agg(sum(col("sq").cast(Det.Fine)).cast("double").as("sq_sum"))
    withSq
      .crossJoin(broadcast(denom))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        Det.detRound(col("sq") / col("sq_sum"), 8).as("mix_weight"),
        Det.detRound(
          col("sq") / col("sq_sum") * col("n_tokens").cast("double"), 2)
          .as("weighted_tokens"))
      .orderBy(asc_nulls_last("source"))
  }

  private val sourceMixWeightsSql =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |), sq AS (
       |  SELECT source, n_docs, n_tokens, sqrt(CAST(n_docs AS DOUBLE)) AS sq FROM per
       |), denom AS (
       |  SELECT CAST(SUM(CAST(sq AS DECIMAL(30,10))) AS DOUBLE) AS sq_sum FROM sq
       |)
       |SELECT source, n_docs, n_tokens,
       |       ${Det.roundSql("sq / sq_sum", 8)} AS mix_weight,
       |       ${Det.roundSql("sq / sq_sum * CAST(n_tokens AS DOUBLE)", 2)} AS weighted_tokens
       |FROM sq, denom
       |ORDER BY source""".stripMargin

  /** Source-concentration audit of the corpus token mass — the
    * "does one crawl dominate the mix" check run before committing a
    * data mix: Gini coefficient, Herfindahl–Hirschman index, and
    * top-1/top-3 shares over per-source token totals. A Gini near 0
    * is an even mix; near 1 means a single source owns the corpus
    * (and the mix weights / dedup priorities need rebalancing).
    *
    * Scale: one map-side-partial hash agg collapses the corpus to a
    * source-cardinality frame (sources are low-cardinality by
    * construction); the rank window and the final single-row fold run
    * on that tiny frame — nothing downstream of the first agg scales
    * with the corpus. Exactness: token totals are integers, Σi·x and
    * Σx² accumulate in DECIMAL (order-independent), so gini/hhi are
    * exact rationals pinned by detRound; rank ties break on source
    * name with NULL-source pinned last on both engines.
    */
  def corpusConcentration(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    // ascending-rank Gini form: G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)
    // NULL n_tokens (a source whose docs all have NULL text) is pinned
    // LAST to match DuckDB's default; Spark's asc() default is FIRST.
    val w = Window.orderBy(asc_nulls_last("n_tokens"), asc_nulls_last("source"))
    val ranked = per
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.orderBy(lit(1)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    ranked
      .agg(
        count(lit(1)).as("n_sources"),
        sum(col("n_tokens")).as("total_tokens"),
        Det.fineSum(col("i") * col("n_tokens")).as("ix"),
        Det.fineSum(col("n_tokens") * col("n_tokens")).as("xsq"),
        max(col("n_tokens")).as("max_tokens"),
        Det.fineSum(
          when(col("i") > col("n") - 3, col("n_tokens"))
            .otherwise(lit(0L))).as("top3"))
      .select(
        col("n_sources"),
        col("total_tokens"),
        when(col("total_tokens") === 0L || col("n_sources") === 1L,
          lit(null).cast("double"))
          .otherwise(Det.detRound(
            (lit(2.0) * col("ix") -
              (col("n_sources") + 1).cast("double") * col("total_tokens")) /
              (col("n_sources").cast("double") * col("total_tokens")), 6))
          .as("gini"),
        when(col("total_tokens") === 0L, lit(null).cast("double"))
          .otherwise(Det.detRound(
            col("xsq") / (col("total_tokens").cast("double") *
              col("total_tokens").cast("double")), 6)).as("hhi"),
        when(col("total_tokens") === 0L, lit(null).cast("double"))
          .otherwise(Det.detRound(
            col("max_tokens").cast("double") / col("total_tokens"), 6))
          .as("top1_share"),
        when(col("total_tokens") === 0L, lit(null).cast("double"))
          .otherwise(Det.detRound(col("top3") / col("total_tokens"), 6))
          .as("top3_share"))
  }

  private val corpusConcentrationSql = {
    def r6(e: String) = Det.roundSql(e, 6)
    s"""WITH per AS (
       |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |), ranked AS (
       |  SELECT n_tokens,
       |         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens NULLS LAST, source NULLS LAST) AS BIGINT) AS i,
       |         count(*) OVER () AS n
       |  FROM per
       |), agg AS (
       |  SELECT count(*) AS n_sources,
       |         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |         CAST(SUM(CAST(i * n_tokens AS DECIMAL(30,10))) AS DOUBLE) AS ix,
       |         CAST(SUM(CAST(n_tokens * n_tokens AS DECIMAL(30,10))) AS DOUBLE) AS xsq,
       |         max(n_tokens) AS max_tokens,
       |         CAST(SUM(CAST(CASE WHEN i > n - 3 THEN n_tokens ELSE 0 END
       |                       AS DECIMAL(30,10))) AS DOUBLE) AS top3
       |  FROM ranked
       |)
       |SELECT n_sources, total_tokens,
       |       CASE WHEN total_tokens = 0 OR n_sources = 1 THEN NULL ELSE
       |         ${r6("""(2.0 * ix - CAST(n_sources + 1 AS DOUBLE) * total_tokens)
       |                 / (CAST(n_sources AS DOUBLE) * total_tokens)""")}
       |       END AS gini,
       |       CASE WHEN total_tokens = 0 THEN NULL ELSE
       |         ${r6("xsq / (CAST(total_tokens AS DOUBLE) * CAST(total_tokens AS DOUBLE))")}
       |       END AS hhi,
       |       CASE WHEN total_tokens = 0 THEN NULL ELSE
       |         ${r6("CAST(max_tokens AS DOUBLE) / total_tokens")}
       |       END AS top1_share,
       |       CASE WHEN total_tokens = 0 THEN NULL ELSE
       |         ${r6("top3 / total_tokens")}
       |       END AS top3_share
       |FROM agg""".stripMargin
  }

  /** Diversity-aware sampling — the scalable cousin of greedy MMR
    * selection: each document lands in a 16-bit semantic bucket (low
    * band of its portable SimHash — near-duplicates collide there by
    * construction, the same blocking dedup_simhash uses), and ONE
    * winner per bucket survives, ranked by a repetition-penalizing
    * quality score (distinct-token ratio). Blocking IS the diversity
    * constraint: the winner set can't contain two near-identical
    * documents, and the selection is one bounded-heap TopKPerKey pass —
    * no sequential greedy loop, no pairwise similarity matrix. Top 20
    * by score reported.
    */
  def sampleDiverse(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        expr("element_at(graft_simhash_md5(split(text, ' ')), 2) & 65535")
          .as("bucket"),
        expr(
          "size(array_distinct(split(text, ' '))) / CAST(size(split(text, ' ')) AS DOUBLE)")
          .as("score"))
    org.apache.spark.sql.graft.TopK
      .perKey(
        scored,
        Seq("bucket"),
        Seq("score" -> false, "doc_id" -> true),
        k = 1,
        rankName = "rn")
      .select(
        col("doc_id"),
        col("bucket"),
        Det.detRound(col("score"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** DuckDB twin: the portable simhash chain (same md5 half-hashes,
    * per-bit ±1 sums, sign reassembly) for the band-0 bucket, the same
    * distinct-token-ratio score, row_number per bucket.
    */
  private val sampleDiverseSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM documents
       |), th AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(s), 1, 8))::BIGINT AS hi,
       |         ('0x' || substr(md5(s), 9, 8))::BIGINT AS lo
       |  FROM toks
       |), bits AS (
       |  SELECT doc_id, j,
       |         SUM(CASE WHEN (lo >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c_lo
       |  FROM th, (SELECT unnest(generate_series(0, 31)) AS j)
       |  GROUP BY doc_id, j
       |), sigs AS (
       |  SELECT doc_id,
       |         SUM(CASE WHEN c_lo > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS lo
       |  FROM bits GROUP BY doc_id
       |), sc AS (
       |  SELECT doc_id,
       |         len(list_distinct(string_split(text, ' ')))
       |           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
       |  FROM documents
       |), b AS (
       |  SELECT s.doc_id, CAST(s.lo & 65535 AS BIGINT) AS bucket, sc.score
       |  FROM sigs s JOIN sc ON s.doc_id = sc.doc_id
       |), r AS (
       |  SELECT doc_id, bucket, score,
       |         row_number() OVER (PARTITION BY bucket ORDER BY score DESC, doc_id) AS rn
       |  FROM b
       |)
       |SELECT doc_id, bucket, ${Det.roundSql("score", 6)} AS score
       |FROM r WHERE rn = 1
       |ORDER BY score DESC, doc_id
       |LIMIT 20""".stripMargin

  /** Adaptive per-language quality gate — the data-driven counterpart
    * to quality_filter's FIXED Gopher thresholds: each language's drop
    * line is mean(score) − stddev(score) of ITS OWN distinct-token
    * ratio distribution (a z-score gate), so a morphology-rich language
    * is not punished by an English-tuned constant. Everything is built
    * from mergeable aggregates — exact DECIMAL power sums (the
    * engagement_spend_corr recipe; stddev/var builtins are
    * partition-order-dependent doubles and can never hash-match) plus
    * one broadcast join of the |langs|-row stats back onto the scan —
    * so unlike a per-group percentile threshold there is no
    * all-values-on-one-reducer stage anywhere: the gate scales to any
    * corpus a cluster can scan twice.
    */
  def qualityAdaptiveGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables
      .documents(spark, dir)
      .select(
        col("lang"),
        expr(
          "size(array_distinct(split(text, ' '))) / CAST(size(split(text, ' ')) AS DOUBLE)")
          .as("score"))
    val stats = scored
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        Det.fineSum(col("score")).as("s1"),
        Det.fineSum(col("score") * col("score")).as("s2"))
    val nD   = col("n").cast("double")
    val mean = col("s1") / nD
    val sd = when(col("n") < 2, lit(0.0))
      .otherwise(sqrt(greatest(
        (col("s2") - col("s1") * col("s1") / nD) / (nD - 1.0), lit(0.0))))
    scored
      .join(broadcast(stats), "lang")
      .groupBy(col("lang"), col("n"), col("s1"), col("s2"))
      .agg(
        sum(when(col("n") >= 2 && col("score") < mean - sd, 1L).otherwise(0L))
          .as("n_drop"))
      .select(
        col("lang"),
        col("n").as("n_docs"),
        Det.detRound(mean, 6).as("mean_score"),
        Det.detRound(sd, 6).as("sd_score"),
        Det.detRound(mean - sd, 6).as("threshold"),
        col("n_drop"),
        Det.detRound(col("n_drop").cast("double") / nD, 6).as("drop_rate"))
      .orderBy(col("lang"))
  }

  private val qualityAdaptiveGateSql =
    s"""WITH scored AS (
       |  SELECT lang,
       |         len(list_distinct(string_split(text, ' ')))
       |           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
       |  FROM documents
       |), st AS (
       |  SELECT lang, count(*) AS n,
       |         CAST(SUM(CAST(score AS DECIMAL(30,10))) AS DOUBLE) AS s1,
       |         CAST(SUM(CAST(score * score AS DECIMAL(30,10))) AS DOUBLE) AS s2
       |  FROM scored GROUP BY lang
       |), thr AS (
       |  SELECT lang, n, s1 / n AS mean,
       |         CASE WHEN n < 2 THEN 0.0
       |              ELSE sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) END AS sd
       |  FROM st
       |)
       |SELECT t.lang,
       |       t.n AS n_docs,
       |       ${Det.roundSql("t.mean", 6)} AS mean_score,
       |       ${Det.roundSql("t.sd", 6)} AS sd_score,
       |       ${Det.roundSql("t.mean - t.sd", 6)} AS threshold,
       |       CAST(SUM(CASE WHEN t.n >= 2 AND s.score < t.mean - t.sd
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_drop,
       |       ${Det.roundSql(
        "CAST(SUM(CASE WHEN t.n >= 2 AND s.score < t.mean - t.sd THEN 1 ELSE 0 END) AS DOUBLE) / t.n", 6)} AS drop_rate
       |FROM scored s JOIN thr t USING (lang)
       |GROUP BY t.lang, t.n, t.mean, t.sd
       |ORDER BY t.lang""".stripMargin

  private val OverlapN = 5

  /** Cross-source n-gram overlap matrix: for every source pair, the
    * shared distinct 5-gram shingles and the Jaccard overlap of the two
    * shingle sets — the curation view that locates sources duplicating
    * each other (mirror sites, re-crawls) BEFORE mix weights are
    * chosen. Scale shape: shingles collapse to 60-bit content hashes in
    * the scan (Det.md5h60Col), the distinct (source, h) set is
    * map-side combinable, and the pair intersection is a self-equi-join
    * on the HASH — only hashes ever shuffle, and the output is
    * |sources|² tiny. Set sizes broadcast back onto the pair rows.
    *
    * The distinct shingle frame feeds FOUR plan branches (two self-join
    * sides, two size broadcasts) — without a checkpoint each branch
    * re-derives the corpus scan + explode + distinct, and AQE stage
    * reuse only collapses the two branch pairs (the sizes branches
    * canonicalize differently, so the corpus still scans twice, 4× if a
    * Catalyst change drops the reuse). localCheckpoint pins it to ONE
    * corpus scan; CurationSpec plan-asserts no parquet scan survives in
    * the consuming plan.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // scan-fan (guide §2.5): the n-gram window expansion + md5-h60 per
    // window is per-row CPU above the scan
    val sh = Tables
      .documentsFanned(spark, dir)
      .select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= OverlapN)
      .select(
        col("source"),
        explode(expr(
          s"transform(sequence(0, size(t) - $OverlapN), i -> concat_ws(' ', slice(t, i + 1, $OverlapN)))"))
          .as("s"))
      .select(col("source"), Det.md5h60Col(col("s")).as("h"))
      .distinct()
      .cutLineage()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.select(col("source").as("src_a"), col("h"))
      .join(sh.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .select(
        col("src_a"), col("src_b"), col("n_shared"),
        Det.detRound(
          col("n_shared").cast("double") /
            (col("na") + col("nb") - col("n_shared")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(desc("n_shared"), asc("src_a"), asc("src_b"))
      .limit(50)
  }

  private val sourceOverlapSql =
    s"""WITH t AS (
       |  SELECT source, string_split(text, ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT source,
       |         ('0x' || substr(md5(array_to_string(list_slice(t, i, i + ${OverlapN - 1}), ' ')), 1, 15))::BIGINT AS h
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(t) - ${OverlapN - 1})) AS i)
       |  WHERE len(t) >= $OverlapN
       |), sizes AS (
       |  SELECT source, count(*) AS n FROM sh GROUP BY source
       |), inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT src_a, src_b, n_shared,
       |       ${Det.roundSql("CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE)", 6)} AS jaccard
       |FROM inter
       |JOIN sizes sa ON src_a = sa.source
       |JOIN sizes sb ON src_b = sb.source
       |ORDER BY n_shared DESC, src_a, src_b
       |LIMIT 50""".stripMargin

  // token-budget planner parameters: the budget is 4× the corpus (so
  // upweighted small sources need >1 epoch and exercise the cap) and no
  // source may repeat more than MaxEpochs times (the data-repetition
  // degradation bound every mixture recipe carries)
  // private[graft]: streaming.DocStreams.streamMixIngest materializes the
  // SAME plan (its repeat verdicts must stay byte-identical to the batch
  // sampler), so it reads these rather than duplicating the literals
  private[graft] val BudgetMultiple = 4.0
  private[graft] val MaxEpochs      = 8.0

  /** Token-budget mix planner — the step AFTER source_mix_weights in a
    * training-data recipe: given the temperature-weighted mix and a
    * total token budget, how many epochs of each source fill its
    * allocation, where does the repetition cap bind, and how many
    * tokens fall short. Per source:
    *   target_tokens  = budget · w_i   (budget = BudgetMultiple × Σ avail)
    *   epochs         = min(MaxEpochs, target/avail)  (<1 ⇒ subsample)
    *   planned_tokens = epochs · avail
    *   shortfall      = target − planned  (>0 ⇔ the cap bound)
    * Same exactness discipline as source_mix_weights: √n̄ weights (IEEE
    * sqrt, correctly rounded in both engines), DECIMAL denominator,
    * plain double arithmetic after that so DuckDB replays bit-for-bit.
    * One map-side-combinable aggregate over documents; everything
    * downstream is |sources|-sized — the planner costs one scan at any
    * corpus size.
    */
  def tokenMixPlan(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("avail_tokens"))
      .withColumn("sq", sqrt(col("n_docs").cast("double")))
    val denom = per.agg(
      sum(col("sq").cast(Det.Fine)).cast("double").as("sq_sum"),
      sum(col("avail_tokens")).as("total_tokens"))
    per
      .crossJoin(broadcast(denom))
      .withColumn("w", col("sq") / col("sq_sum"))
      .withColumn("target", col("w") * (lit(BudgetMultiple) * col("total_tokens").cast("double")))
      .withColumn("epochs",
        least(lit(MaxEpochs), col("target") / col("avail_tokens").cast("double")))
      .select(
        col("source"),
        col("n_docs"),
        col("avail_tokens"),
        Det.detRound(col("w"), 8).as("mix_weight"),
        Det.detRound(col("target"), 2).as("target_tokens"),
        Det.detRound(col("epochs"), 6).as("epochs"),
        Det.detRound(col("epochs") * col("avail_tokens").cast("double"), 2)
          .as("planned_tokens"),
        Det.detRound(
          greatest(lit(0.0),
            col("target") - col("epochs") * col("avail_tokens").cast("double")), 2)
          .as("shortfall"))
      .orderBy(asc_nulls_last("source"))
  }

  private val tokenMixPlanSql =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
       |  FROM documents GROUP BY source
       |), sq AS (
       |  SELECT source, n_docs, avail_tokens, sqrt(CAST(n_docs AS DOUBLE)) AS sq FROM per
       |), denom AS (
       |  SELECT CAST(SUM(CAST(sq AS DECIMAL(30,10))) AS DOUBLE) AS sq_sum,
       |         CAST(SUM(avail_tokens) AS BIGINT) AS total_tokens
       |  FROM sq
       |), plan AS (
       |  SELECT source, n_docs, avail_tokens,
       |         sq / sq_sum AS w,
       |         (sq / sq_sum) * ($BudgetMultiple * CAST(total_tokens AS DOUBLE)) AS target,
       |         least($MaxEpochs,
       |               (sq / sq_sum) * ($BudgetMultiple * CAST(total_tokens AS DOUBLE))
       |                 / CAST(avail_tokens AS DOUBLE)) AS epochs
       |  FROM sq, denom
       |)
       |SELECT source, n_docs, avail_tokens,
       |       ${Det.roundSql("w", 8)} AS mix_weight,
       |       ${Det.roundSql("target", 2)} AS target_tokens,
       |       ${Det.roundSql("epochs", 6)} AS epochs,
       |       ${Det.roundSql("epochs * CAST(avail_tokens AS DOUBLE)", 2)} AS planned_tokens,
       |       ${Det.roundSql("greatest(0.0, target - epochs * CAST(avail_tokens AS DOUBLE))", 2)} AS shortfall
       |FROM plan
       |ORDER BY source""".stripMargin

  // -------------------------------------------------------- curation funnel

  /** End-to-end curation funnel: the four gates a pre-training pipeline
    * chains between raw crawl and tokenization, reported as a per-stage
    * survivor funnel (the observability artifact every data run ships):
    *
    *   1. min_length   — whitespace token count ≥ 30
    *   2. repetition   — top-bigram share < 8% (integer compare; the
    *                     per-doc gate docRepetition generalizes)
    *   3. exact_dedup  — keep the lowest doc_id per md5(text) group
    *                     among stage-2 survivors
    *   4. near_dedup   — MinHash-LSH (the dedupMinhash sketch: same
    *                     shingles, permutations, band keys, bucket cap,
    *                     0.5 verify threshold) over stage-3 survivors;
    *                     a doc drops when it pairs with a LOWER-id
    *                     stage-3 survivor (greedy by id — deterministic,
    *                     one pass, no iteration).
    *
    * Output is 4 rows (stage, rule, n_in, n_out, n_dropped) — counts
    * only, so the hash contract needs no float discipline.
    *
    * Scale: stages shrink the frame monotonically; the per-doc flag
    * frame is persisted once and feeds all three consumers, signatures
    * are computed only for stage-3 survivors, and every aggregate is
    * map-side combinable. The sketch stage inherits dedupMinhash's
    * bucket-size cap, so no hot bucket can go quadratic.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val k = Dedup.MinhashK
    // scan-fan (guide §2.5): `flagged` is persisted and every later
    // stage (keep-first hashing, minhash signing, band grouping) reads
    // those cached partitions — unfanned, the persist pins ONE
    // partition and the whole funnel tail runs serial (StageProfile:
    // 0.88 s one-task signing stage)
    val docs = Tables.documentsFanned(spark, dir).select(col("doc_id"), col("text"))

    // bigram repetition stats IN-ROW (GramStats kernel, guide §2.4): the
    // old explode → two shuffled aggregates → left join back computed a
    // per-doc frequency table the row can hold itself. A doc with < 2
    // tokens used to miss the join (null → coalesce false); the kernel
    // returns (0, 0, 0) there and 0*100 < 0*8 is the same false.
    val flagged = docs
      .select(
        col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("graft_gram_stats(split(text, ' '), 2)").as("g"))
      .select(
        col("doc_id"), col("text"),
        (col("n_tokens") >= 30).as("p1"),
        (col("n_tokens") >= 30 &&
          col("g.top_cnt") * 100 < col("g.n_g") * 8).as("p2"))
      .persist()

    val s2 = flagged.filter(col("p2")).select(col("doc_id"), col("text"))
    val keepIds = s2
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .select(col("keep_id"))
    val s3 = s2.join(keepIds, s2("doc_id") === keepIds("keep_id"), "left_semi")
      .persist()

    // Stage 4 needs only the DROP SET (any doc with a lower-id ≥0.5
    // match), not the scored pair list — so the signature-verify runs
    // IN-ROW per bucket instead of expanding candidate pairs. The pair
    // expansion (dedupMinhash's shape, correct when pairs ARE the
    // output) shuffles O(cap²·buckets) rows on a duplicated corpus:
    // measured 28 GiB memory spill / 109 s at the 100×-docs worst case
    // (every doc has 99 near-copies). Carrying sigs into the bucket
    // list instead costs one bands·|sig| shuffle (~16×520 B/doc) and
    // emits only dropped ids — pair volume never leaves the row.
    // est ≥ 0.5 ⇔ matching minima ≥ k/2 (multiples of 1/k are exact
    // doubles, so this is the oracle's detRound compare verbatim).
    val (sigs, _) = Dedup.minhashBandsOf(s3, k, persistSigs = false)
    // minima are < PortableHash.P = 2^31−1, so int32 carries them
    // losslessly — halves the per-band-row signature bytes shuffled
    val sigBands = sigs
      .select(col("doc_id"), expr("transform(sig, x -> CAST(x AS INT))").as("sig"))
      .select(
        col("doc_id"), col("sig"),
      explode(expr(
        """transform(sequence(0, 15), b -> struct(b AS band,
          |  array_join(transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)), ',') AS bh))""".stripMargin))
        .as("lsh"))
      .select(col("doc_id"), col("sig"), col("lsh.band"), col("lsh.bh"))
    val drops = sigBands
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ms"))
      .filter(size(col("ms")).between(2, 100))
      .select(explode(expr(
        s"""filter(transform(ms, (m, i) ->
           |  IF(exists(slice(ms, 1, i), a ->
           |       graft_sig_matches(a.sig, m.sig) >= $k / 2),
           |     m.doc_id, CAST(NULL AS BIGINT))),
           |  x -> x IS NOT NULL)""".stripMargin))
        .as("doc_id"))
      .distinct()
    val s4 = s3.join(drops, Seq("doc_id"), "left_anti")

    val c01 = flagged.agg(
      count(lit(1)).as("n0"),
      sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("p2"), 1L).otherwise(0L)).as("n2"))
    val c3 = s3.agg(count(lit(1)).as("n3"))
    val c4 = s4.agg(count(lit(1)).as("n4"))
    c01.crossJoin(c3).crossJoin(c4)
      .select(explode(array(
        struct(lit(1).as("stage"), lit("min_length").as("rule"),
          col("n0").as("n_in"), col("n1").as("n_out")),
        struct(lit(2).as("stage"), lit("repetition").as("rule"),
          col("n1").as("n_in"), col("n2").as("n_out")),
        struct(lit(3).as("stage"), lit("exact_dedup").as("rule"),
          col("n2").as("n_in"), col("n3").as("n_out")),
        struct(lit(4).as("stage"), lit("near_dedup").as("rule"),
          col("n3").as("n_in"), col("n4").as("n_out")))).as("s"))
      .select(
        col("s.stage"), col("s.rule"), col("s.n_in"), col("s.n_out"),
        (col("s.n_in") - col("s.n_out")).as("n_dropped"))
      .orderBy(col("stage"))
  }

  private val curationFunnelSql = {
    val k   = Dedup.MinhashK
    val est = Dedup.estJaccardSql(k)
    s"""WITH d0 AS (
       |  SELECT doc_id, text FROM documents
       |), tarr AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM d0
       |), g AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
       |  FROM tarr, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
       |  WHERE len(t) >= 2
       |), gs AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_g, max(c) AS top_cnt
       |  FROM (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
       |  GROUP BY doc_id
       |), flagged AS (
       |  SELECT d.doc_id, d.text,
       |         len(string_split(d.text, ' ')) >= 30 AS p1,
       |         (len(string_split(d.text, ' ')) >= 30)
       |           AND COALESCE(gs.top_cnt*100 < gs.n_g*8, FALSE) AS p2
       |  FROM d0 d LEFT JOIN gs USING (doc_id)
       |), s2 AS (
       |  SELECT doc_id, text FROM flagged WHERE p2
       |), keep AS (
       |  SELECT min(doc_id) AS keep_id FROM s2 GROUP BY md5(text)
       |), s3 AS (
       |  SELECT doc_id, text FROM s2 WHERE doc_id IN (SELECT keep_id FROM keep)
       |),
       |${Dedup.minhashSqlPrefix(k, "s3")},
       |cand AS (
       |  SELECT DISTINCT a.x AS doc_a, b.x AS doc_b
       |  FROM buck, unnest(docs) AS a(x), unnest(docs) AS b(x)
       |  WHERE len(docs) BETWEEN 2 AND 100 AND a.x < b.x
       |), drops AS (
       |  SELECT DISTINCT c.doc_b AS doc_id
       |  FROM cand c
       |  JOIN sigs sa ON c.doc_a = sa.doc_id
       |  JOIN sigs sb ON c.doc_b = sb.doc_id
       |  WHERE ${Det.roundSql(est, 6)} >= 0.5
       |), s4 AS (
       |  SELECT doc_id FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |), c01 AS (
       |  SELECT count(*) AS n0,
       |         count(*) FILTER (p1) AS n1,
       |         count(*) FILTER (p2) AS n2
       |  FROM flagged
       |), wide AS (
       |  SELECT * FROM c01, (SELECT count(*) AS n3 FROM s3), (SELECT count(*) AS n4 FROM s4)
       |)
       |SELECT * FROM (
       |  SELECT 1 AS stage, 'min_length' AS rule, n0 AS n_in, n1 AS n_out, n0 - n1 AS n_dropped FROM wide
       |  UNION ALL SELECT 2, 'repetition', n1, n2, n1 - n2 FROM wide
       |  UNION ALL SELECT 3, 'exact_dedup', n2, n3, n2 - n3 FROM wide
       |  UNION ALL SELECT 4, 'near_dedup', n3, n4, n3 - n4 FROM wide
       |)
       |ORDER BY stage""".stripMargin
  }

  /** Keyword-rule topic taxonomy: (topic → keyword set), evaluated in
    * topic-name order so argmax ties break deterministically. The
    * rule-based domain tagger is the standard first pass for corpus
    * domain-mix reporting (before any learned classifier exists); at
    * scale it is a pure per-row map — keyword sets live in the closure,
    * zero shuffle before the final (source, topic) rollup.
    */
  private val Topics: Seq[(String, Seq[String])] = Seq(
    "exec"      -> Seq("agg", "filter", "group", "join", "merge", "query", "scan", "sort"),
    "perf"      -> Seq("big", "fast", "slow", "small", "vector"),
    "storage"   -> Seq("column", "hash", "key", "line", "part", "row", "table"),
    "streaming" -> Seq("batch", "spark", "stream", "window"))

  /** Per-(source, topic) document counts and within-source shares under
    * the keyword-rule tagger: each doc is assigned the topic with the
    * most keyword hits (ties → first topic name, zero hits → 'other').
    */
  def topicTagging(spark: SparkSession, dir: String): DataFrame =
    topicTaggingOf(Tables.documents(spark, dir))

  /** The tagger core over any (source, text) frame — exposed for
    * CorpusOpsSpec's crafted-fixture tests.
    */
  private[graft] def topicTaggingOf(docs: DataFrame): DataFrame = {
    val scores = Topics.map { case (name, kws) =>
      val set = kws.map(k => s"'$k'").mkString(", ")
      expr(s"size(filter(t, x -> x IN ($set)))").as(s"s_$name")
    }
    val names = Topics.map(_._1)
    // argmax with name-order tie-break: first topic whose score beats
    // all LATER topics (>=) and is positive
    val topic = names.zipWithIndex
      .foldRight(lit("other")) { case ((name, i), elseCol) =>
        val beatsLater = names
          .drop(i + 1)
          .map(later => col(s"s_$name") >= col(s"s_$later"))
          .foldLeft(col(s"s_$name") > 0)(_ && _)
        when(beatsLater, lit(name)).otherwise(elseCol)
      }
    val perSource = Window.partitionBy(col("source"))
    docs
      .select(
        col("source") +:
          expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')").as("t") +:
          Nil: _*)
      .select(col("source") +: scores: _*)
      .withColumn("topic", topic)
      .groupBy(col("source"), col("topic"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn(
        "share",
        Det.detRound(
          col("n_docs").cast("double") / sum(col("n_docs")).over(perSource), 4))
      .orderBy(asc_nulls_last("source"), col("topic"))
  }

  private val topicTaggingSql = {
    val scoreCols = Topics
      .map { case (name, kws) =>
        val set = kws.map(k => s"'$k'").mkString(", ")
        s"len(list_filter(t, x -> x IN ($set))) AS s_$name"
      }
      .mkString(",\n         ")
    val names = Topics.map(_._1)
    val caseArms = names.zipWithIndex
      .map { case (name, i) =>
        val conds = (s"s_$name > 0" +:
          names.drop(i + 1).map(later => s"s_$name >= s_$later")).mkString(" AND ")
        s"WHEN $conds THEN '$name'"
      }
      .mkString("\n           ")
    s"""WITH base AS (
       |  SELECT source,
       |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
       |  FROM documents
       |), scored AS (
       |  SELECT source,
       |         $scoreCols
       |  FROM base
       |), tagged AS (
       |  SELECT source,
       |         CASE $caseArms
       |           ELSE 'other' END AS topic
       |  FROM scored
       |), counts AS (
       |  SELECT source, topic, count(*) AS n_docs FROM tagged GROUP BY source, topic
       |)
       |SELECT source, topic, n_docs,
       |       ${Det.roundSql(
        "CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source)",
        4)} AS share
       |FROM counts
       |ORDER BY source, topic""".stripMargin
  }

  /** k-anonymity audit of the customer table: the re-identification
    * risk check a data-governance pass runs before releasing (or
    * training on) records with quasi-identifiers. Rows are grouped by
    * the QI tuple (nation, market segment, account-balance band);
    * every class of size < k is re-identifiable by an attacker who
    * knows those attributes (Sweeney 2002, public). Output is the
    * equivalence-class size histogram with the at-risk verdict and
    * row shares — the view you read to decide how much generalization
    * (coarser bands, dropped columns) the release needs. Two hash
    * aggregations, each with map-side partials; nothing but the QI
    * tuple and counts ever shuffles, and the second aggregate's input
    * is already class-grained — at any scale this costs one pass over
    * the table. NULL QI values form their own class in both engines
    * (GROUP BY groups NULLs), so the null-injected fixture exercises
    * the same grouping.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val classes = Tables
      .customer(spark, dir)
      .groupBy(
        col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("class_size"))
    classes
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .withColumn("n_rows", col("class_size") * col("n_classes"))
      .withColumn(
        "verdict",
        when(col("class_size") < k, lit("at_risk")).otherwise(lit("anonymous")))
      .withColumn(
        "pct_rows",
        Det.detRound(
          col("n_rows").cast("double") /
            sum(col("n_rows")).over(Window.partitionBy()).cast("double"),
          6))
      .select(
        col("class_size"), col("n_classes"), col("n_rows"),
        col("verdict"), col("pct_rows"))
      .orderBy(col("class_size"))
  }

  private val kAnonymitySql =
    s"""WITH classes AS (
       |  SELECT c_nationkey, c_mktsegment,
       |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
       |         count(*) AS class_size
       |  FROM customer
       |  GROUP BY 1, 2, 3
       |), hist AS (
       |  SELECT class_size, count(*) AS n_classes,
       |         CAST(class_size * count(*) AS BIGINT) AS n_rows
       |  FROM classes GROUP BY class_size
       |)
       |SELECT class_size, n_classes, n_rows,
       |       CASE WHEN class_size < 5 THEN 'at_risk' ELSE 'anonymous' END AS verdict,
       |       ${Det.roundSql(
          "CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE)", 6)} AS pct_rows
       |FROM hist
       |ORDER BY class_size""".stripMargin

  /** token_mix_plan EXECUTED — the plan's fractional epochs
    * materialized into per-doc repeat factors, the way a data loader
    * actually consumes a mixing plan: every doc of source s repeats
    * floor(e_s) times, plus one more when its salted-hash uniform
    * u(doc) < frac(e_s) — deterministic Bernoulli up-sampling whose
    * expectation hits the planned token count exactly, with no
    * coordination between docs (each row decides alone — embarrassingly
    * parallel at 100 TB). The report grades the materialization:
    * realized tokens (an exact integer — repeats×tokens summed) against
    * the plan's target, with the relative error the loader would see.
    * u reads 13 md5 hex chars = 52 bits, so u = h/2^52 is an EXACT
    * dyadic double and the comparison replays identically in DuckDB.
    */
  def tokenMixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
    val per = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("avail_tokens"))
      .withColumn("sq", sqrt(col("n_docs").cast("double")))
    val denom = per.agg(
      sum(col("sq").cast(Det.Fine)).cast("double").as("sq_sum"),
      sum(col("avail_tokens")).as("total_tokens"))
    val plan = per
      .crossJoin(broadcast(denom))
      .withColumn("w", col("sq") / col("sq_sum"))
      .withColumn(
        "epochs",
        least(
          lit(MaxEpochs),
          col("w") * (lit(BudgetMultiple) * col("total_tokens").cast("double"))
            / col("avail_tokens").cast("double")))
      .select(
        col("source").as("psrc"), col("n_docs"),
        col("avail_tokens"), col("epochs"))
    val perDoc = docs
      .join(broadcast(plan), col("source") <=> col("psrc"))
      .withColumn("base", floor(col("epochs")))
      .withColumn("frac", col("epochs") - floor(col("epochs")).cast("double"))
      .withColumn(
        "u",
        expr("CAST(conv(substr(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)")
          .cast("double") / lit(4503599627370496.0))
      .withColumn("up", when(col("u") < col("frac"), 1L).otherwise(0L))
    val realized = perDoc
      .groupBy(col("source"))
      .agg(
        sum(col("up")).as("n_upsampled"),
        sum((col("base") + col("up")) * col("nt")).as("realized_tokens"))
    plan
      .join(realized, col("psrc") <=> col("source"))
      .withColumn(
        "planned_tokens",
        Det.detRound(col("epochs") * col("avail_tokens").cast("double"), 2))
      .select(
        col("psrc").as("source"),
        col("n_docs"),
        Det.detRound(col("epochs"), 6).as("epochs"),
        col("n_upsampled"),
        col("realized_tokens"),
        col("planned_tokens"),
        when(col("planned_tokens") === 0.0, lit(0.0))
          .otherwise(Det.detRound(
            (col("realized_tokens").cast("double") - col("planned_tokens"))
              / col("planned_tokens"), 6))
          .as("rel_err"))
      .orderBy(asc_nulls_last("source"))
  }

  /** DuckDB twin: the plan chain (token_mix_plan's formulas verbatim),
    * the same exact-dyadic per-doc uniform, the same integer realized
    * sum and rounded-plan relative error.
    */
  private val tokenMixSampleSql = {
    def r6(e: String) = Det.roundSql(e, 6)
    def r2(e: String) = Det.roundSql(e, 2)
    s"""WITH docs AS (
       |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents
       |), per AS (
       |  SELECT source, count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS avail_tokens
       |  FROM docs GROUP BY source
       |), sq AS (
       |  SELECT source, n_docs, avail_tokens, sqrt(CAST(n_docs AS DOUBLE)) AS sq FROM per
       |), denom AS (
       |  SELECT CAST(SUM(CAST(sq AS DECIMAL(30,10))) AS DOUBLE) AS sq_sum,
       |         CAST(SUM(avail_tokens) AS BIGINT) AS total_tokens
       |  FROM sq
       |), plan AS (
       |  SELECT source, n_docs, avail_tokens,
       |         least($MaxEpochs,
       |               (sq / sq_sum) * ($BudgetMultiple * CAST(total_tokens AS DOUBLE))
       |                 / CAST(avail_tokens AS DOUBLE)) AS epochs
       |  FROM sq, denom
       |), perdoc AS (
       |  SELECT d.source, d.nt, p.epochs,
       |         CAST(floor(p.epochs) AS BIGINT) AS base,
       |         p.epochs - floor(p.epochs) AS frac,
       |         CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
       |           / 4503599627370496.0 AS u
       |  FROM docs d JOIN plan p ON d.source IS NOT DISTINCT FROM p.source
       |), realized AS (
       |  SELECT source,
       |         CAST(SUM(CASE WHEN u < frac THEN 1 ELSE 0 END) AS BIGINT) AS n_upsampled,
       |         CAST(SUM((base + CASE WHEN u < frac THEN 1 ELSE 0 END) * nt) AS BIGINT) AS realized_tokens
       |  FROM perdoc GROUP BY source
       |), outp AS (
       |  SELECT p.source, p.n_docs, p.epochs, r.n_upsampled, r.realized_tokens,
       |         ${r2("p.epochs * CAST(p.avail_tokens AS DOUBLE)")} AS planned_tokens
       |  FROM plan p JOIN realized r ON p.source IS NOT DISTINCT FROM r.source
       |)
       |SELECT source, n_docs, ${r6("epochs")} AS epochs, n_upsampled, realized_tokens,
       |       planned_tokens,
       |       CASE WHEN planned_tokens = 0 THEN 0.0
       |            ELSE ${r6("(CAST(realized_tokens AS DOUBLE) - planned_tokens) / planned_tokens")} END AS rel_err
       |FROM outp
       |ORDER BY source""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "token_mix_sample"   -> QueryDef(tokenMixSample, Some(tokenMixSampleSql)),
    "k_anonymity"        -> QueryDef(kAnonymity, Some(kAnonymitySql)),
    "topic_tagging"      -> QueryDef(topicTagging, Some(topicTaggingSql)),
    "curation_funnel"    -> QueryDef(curationFunnel, Some(curationFunnelSql)),
    "token_mix_plan"     -> QueryDef(tokenMixPlan, Some(tokenMixPlanSql)),
    "source_overlap"     -> QueryDef(sourceOverlap, Some(sourceOverlapSql)),
    "quality_adaptive_gate" -> QueryDef(qualityAdaptiveGate, Some(qualityAdaptiveGateSql)),
    "sample_diverse"     -> QueryDef(sampleDiverse, Some(sampleDiverseSql)),
    "doc_repetition"     -> QueryDef(docRepetition, Some(docRepetitionSql)),
    "sample_per_lang"    -> QueryDef(samplePerLang, Some(samplePerLangSql)),
    "pii_scrub"          -> QueryDef(piiScrub, Some(piiScrubSql)),
    "vocab_oov"          -> QueryDef(vocabOov, Some(vocabOovSql)),
    "source_mix_weights" -> QueryDef(sourceMixWeights, Some(sourceMixWeightsSql)),
    "corpus_concentration" -> QueryDef(corpusConcentration, Some(corpusConcentrationSql)))
}
