package graft.operators

import graft.{Det, QueryDef, Tables}
import graft.Ckpt.CutOps
import graft.sources.StoredIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (content-hash groupBy), exact n-gram Jaccard (inverted shingle
  * index), MinHash+LSH near-dup, and SimHash near-dup.
  *
  * Scale design:
  *  - exact dedup groups on md5(text), not text — the shuffle carries
  *    32-byte keys instead of full documents.
  *  - jaccard/minhash shuffle (doc_id, 8-byte shingle hash) pairs, never
  *    document text.
  *  - minhash signatures are computed in-row by a codegen'd expression
  *    (graft.functions.MinHashSig), LSH banding turns the O(n²) pair
  *    space into per-bucket candidate lists with a bucket-size cap
  *    against degenerate skew.
  */
object Dedup {

  /** Exact duplicate groups: one kept id + copy count per distinct text.
    * Ref analog: dropDuplicates semantics (spark_analysis.py:118) applied
    * to document content.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  private val dedupExactSql =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.6) via an inverted
    * shingle index: pairs sharing a shingle → common counts → |A∪B| from
    * per-doc sizes. Exact but O(pairs-sharing-a-shingle); the bounded-work
    * production path at 100 TB is dedup_minhash below.
    */
  /** Shingles appearing in more than this many documents are excluded
    * from the inverted-index join (a document-frequency cap — the
    * standard guard against the quadratic blowup of stop-shingles at
    * scale). Denominators still use full shingle sets; the cap is
    * mirrored verbatim in the oracle, and at the test scale factors no
    * shingle reaches it, so results stay exact-Jaccard.
    */
  private val HotShingleCap = 1000

  /** Corpus-size cap for the EXACT dedup family (jaccard / editdist /
    * clusters). These anchors are output-quadratic on duplicated
    * corpora BY DESIGN — they exist as small-scale oracle baselines;
    * the bounded-work production paths are the minhash/simhash twins.
    * The cap makes that routing mechanical and AUTOMATIC: above it the
    * exact form never builds its quadratic plan — it returns the
    * bounded minhash twin's result (adapted to this schema: `common`
    * null, `jaccard` carrying the signature ESTIMATE) with a logged
    * downgrade, so a 100 TB caller degrades instead of crashing.
    * dedup_editdist and dedup_clusters build on this frame and so
    * inherit the routing — above the cap the whole exact family runs
    * candidate-bounded. Spec-asserted (QuadraticGuardSpec).
    */
  private[graft] val ExactDocCap = 100000L

  /** Pair-expansion budget for the exact family — the SECOND axis of the
    * guard. The doc-count cap alone is not a spill bound: the exact
    * kernels' cost is Σ C(df,2) over cold shingle buckets (the number of
    * pair rows the inverted index expands), which depends on DUPLICATE
    * DENSITY, not corpus size. Measured on the ×10/×20 docs fixtures
    * (maximally duplicated — every doc has copies): spill is ~0.3 KiB
    * per pair row, 138M pairs → 39 GiB (fits easily), 556M pairs →
    * 162 GiB (completes at 184 s but exceeds the 128 GiB sandbox
    * envelope). 200M pairs ≈ 60 GiB worst-case spill — the bound at
    * which the worst LEGAL exact plan demonstrably fits. A real corpus
    * at the 100k-doc cap with ordinary duplicate rates sits far below
    * this; only pathologically duplicated corpora route early.
    */
  private[graft] val PairBudget = 200000000L

  /** Total whitespace-token count of the corpus, persisted per corpus
    * stamp exactly like [[exactPairMass]] (one narrow scan + a scalar
    * sum, no shuffle over shingles — strictly cheaper than the df
    * histogram). Feeds [[pairMassBound]].
    */
  private[graft] def cachedTokenCount(spark: SparkSession, dir: String): Long =
    graft.sources.DerivedCache.value(dir, "token-count", "v=1") {
      val row = Tables.documents(spark, dir)
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("t"))
        .first()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }

  /** SOUND upper bound on [[exactPairMass]], from the persisted token
    * count: every cold posting entry is one (shingle, doc) row, so
    * postingEntries ≤ Σ_doc shingles(doc) ≤ tokens, and each bucket's
    * C(df,2) ≤ df·(HotShingleCap−1)/2, so
    * mass ≤ tokens·(HotShingleCap−1)/2. C(n,2) over DOC count does NOT
    * bound the mass — a doc pair is counted once PER shared cold
    * shingle, so 1,000 identical 500-token docs carry ~2.5e8 mass
    * against C(n,2) ≈ 5e5 (round-13 review finding: the old doc-count
    * short-circuit silently took the exact path on exactly the dense
    * small corpora the budget exists to route). When this bound fits
    * the budget the guards skip the pair-mass measurement: the only
    * construction cost is the persisted token scalar (paid once EVER
    * per corpus stamp, a strict subset of what exactPairMass costs);
    * above the bound the measurement is mandatory — measure, don't
    * guess.
    */
  private[graft] def pairMassBound(spark: SparkSession, dir: String): Long = {
    val t = cachedTokenCount(spark, dir)
    val f = (HotShingleCap - 1).toLong
    if (t > 0 && t > Long.MaxValue / f) Long.MaxValue else t * f / 2
  }

  /** Σ C(df,2) over cold shingle buckets — the EXACT number of pair rows
    * pairCommonOf would emit, measured from the posting-list df
    * histogram BEFORE any expansion: one (hash → df) aggregate over the
    * shingle stream, no text, no pairs, ~the cheap first third of the
    * jaccard plan. Persisted like the trained models: the measurement is
    * a pure function of the corpus, so it is paid once EVER per corpus
    * stamp — a fresh JVM (bench rerun, verify, driver) reads the scalar
    * back instead of re-scanning the corpus.
    */
  private[graft] def exactPairMass(spark: SparkSession, dir: String): Long =
    graft.sources.DerivedCache.value(dir, "pair-mass", s"hot=$HotShingleCap;v=1") {
      val row = shingleIndex(Tables.documents(spark, dir))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, HotShingleCap))
        .agg(sum(expr("n * (n - 1) div 2")).as("mass"))
        .first()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }

  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupJaccardGuarded(spark, dir, ExactDocCap)

  private[graft] def dedupJaccardGuarded(
      spark: SparkSession, dir: String, cap: Long,
      pairBudget: Long = PairBudget,
      ordered: Boolean = true): DataFrame = {
    // `ordered = false` drops the presentation sort on every branch:
    // internal consumers that wrap this frame in a custom logical node
    // (editdist's TopKPerKey budget) must not inherit a global orderBy
    // EliminateSorts cannot reach
    def minhashTwin(): DataFrame =
      if (ordered) dedupMinhash(spark, dir) else dedupMinhashUnordered(spark, dir)
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    if (nDocs > cap) {
      graft.Downgrades.record("dedup_jaccard", "dedup_minhash", nDocs, cap)
      return minhashTwin().select(
        col("doc_a"),
        col("doc_b"),
        lit(null).cast("long").as("common"),
        col("est_jaccard").as("jaccard"))
    }
    // duplicate-density axis: a legal-size corpus can still carry an
    // over-budget pair expansion (see PairBudget) — measure, don't guess.
    // Corpora whose token-mass bound already fits need no measurement.
    val mass =
      if (pairMassBound(spark, dir) <= pairBudget) 0L
      else exactPairMass(spark, dir)
    if (mass > pairBudget) {
      graft.Downgrades.record(
        "dedup_jaccard", "dedup_minhash (pair-mass)", mass, pairBudget)
      return minhashTwin().select(
        col("doc_a"),
        col("doc_b"),
        lit(null).cast("long").as("common"),
        col("est_jaccard").as("jaccard"))
    }
    if (!ordered)
      // same scan-fan as the ordered path below: editdist's candidate
      // stage was the one consumer still shingling on the source's
      // single task (r16; the r15 fan A/B only covered the ordered form)
      return dedupJaccardOfUnordered(Tables.documentsFanned(spark, dir), mass)
    // Single-pass inverted index: per-doc shingle arrays built in-row,
    // with the per-doc distinct-shingle count |doc| = size(shs) CARRIED
    // through the posting list, bit-packed into the doc_id long
    // (doc_id << 24 | sz). The union-size denominator then needs NO
    // join back to a sizes frame — the old formulation's two
    // sizes-joins re-ran the shingling per join side. Packed longs
    // (not struct(doc_id, sz)) keep the posting lists on the
    // primitive-array codegen path: struct lists pushed
    // sort_array/slice onto per-element struct comparisons, measured
    // 3.8x slower than this. doc_id in the high bits means packed
    // order == doc_id order, so the sorted slice expansion still emits
    // doc_a < doc_b pairs. The document-frequency cap is folded into
    // the same groupBy: a bucket's size IS the shingle's df, so
    // `size(docs) <= cap` replaces the separate df aggregate +
    // broadcast anti-join. Net: ONE pass over the corpus, two shuffles
    // (index, pair counts), zero joins — vs three shingling passes,
    // four shuffles, two joins. Verified equal by the oracle's
    // df-subquery + self-join SQL. Capacity: sz < 2^24 distinct
    // shingles per doc, doc_id < 2^39 — both far above any real
    // corpus row (ExactDocCap bounds this path to 100k docs anyway).
    // scan-fan (guide §2.5): shingling + array_distinct + packed-index
    // expansion is per-row CPU above the scan
    dedupJaccardOf(Tables.documentsFanned(spark, dir), mass)
  }

  /** The exact-Jaccard kernel over an arbitrary (doc_id, text) frame —
    * factored so bounded-sample callers (minhash_k_curve's above-cap
    * route) can grade against the REAL exact anchor instead of the
    * routed estimate. Callers own the corpus-size guard.
    */
  private[operators] def dedupJaccardOf(
      docsIn: DataFrame, pairMass: Long = 0L): DataFrame = {
    val u = dedupJaccardOfUnordered(docsIn, pairMass)
    // materialization boundary before the presentation sort on heavy
    // corpora: RangePartitioning SAMPLES its child plan, and without an
    // exchange between them the sample pass re-executes the whole pair
    // aggregate (the round-13 opaque-node hazard, here on a plain
    // orderBy — per-stage attribution showed the agg stage running
    // twice, 11.5 GiB spill each). The cheap hash exchange of the
    // FILTERED result materializes a query stage the sampler reads back
    // instead of recomputing.
    val cut =
      if (pairMass / PairsPerExpandPartition > shuffleWidth(u))
        u.repartition(col("doc_a"), col("doc_b"))
      else u
    cut.orderBy(col("doc_a"), col("doc_b"))
  }

  /** The exact kernel WITHOUT the presentation sort — see
    * dedupMinhashOfUnordered for why internal consumers must not carry
    * the global orderBy.
    */
  private def dedupJaccardOfUnordered(
      docsIn: DataFrame, pairMass: Long = 0L): DataFrame =
    pairCommonOf(docsIn, pairMass)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("common"),
        Det.detRound(
          col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.6)

  /** The packed shingle index feeding pairCommonOf: one (h, packed-doc)
    * row per distinct 3-gram per doc — factored so exactPairMass can
    * aggregate its df histogram without building pairs.
    */
  private def shingleIndex(docsIn: DataFrame): DataFrame = {
    docsIn
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        when(
          size(col("t")) >= 3,
          array_distinct(expr(
            "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")))
          .otherwise(array().cast("array<string>")).as("shs"))
      .select(
        (shiftleft(col("doc_id"), 24) + size(col("shs"))).as("d"),
        // The if() wrapper is load-bearing: explode on a BARE column
        // lets InferFiltersFromGenerate add `size(shs)>0 AND
        // isnotnull(shs)`, and predicate pushdown then substitutes the
        // whole shingling expression into that Filter — tripling the
        // per-row transform/array_distinct cost (measured 1.8s -> 7.2s
        // at sf0.1). The rule only fires on Attribute generator
        // children, so this always-true non-foldable wrapper keeps the
        // shingling single-pass; empty arrays just generate no rows.
        explode(expr("if(size(shs) >= 0, shs, array())")).as("shingle"))
      .select(xxhash64(col("shingle")).as("h"), col("d"))
  }

  /** Pair-rows-per-expansion-partition target for [[pairCommonOf]]'s
    * mass-adaptive repartition: ~2M pair rows ≈ 100-150 MB of partial
    * (a,b)-aggregate state per task — inside a task's execution-memory
    * share, so the worst LEGAL densities aggregate in memory instead of
    * sort-spilling (×10 docs: 138M pairs over 32 tasks = 4.3M/task spilt
    * 39 GiB).
    */
  private val PairsPerExpandPartition = 500000L

  /** Ceiling on the mass-adaptive pair-exchange width: enough tasks to
    * keep the worst in-budget mass (PairBudget = 200M pairs) at
    * ~[[PairsPerExpandPartition]] rows each, with headroom. Tied to the
    * budget, not to a core count — the exchange width is about per-task
    * STATE, not parallelism.
    */
  private val MaxExpandPartitions = 512L

  /** The session's configured shuffle width — the floor under which the
    * mass-adaptive repartitions are pointless (the default exchange
    * already spreads at least this wide). Read per-call: sessions built
    * with a different core count (GraftSession sets shuffle.partitions
    * = cpus) must not inherit a hardcoded 32 (round-14 ADVICE).
    */
  private def shuffleWidth(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** The packed inverted-index pair kernel shared by the exact-Jaccard
    * and containment views: (doc_a, sz_a, doc_b, sz_b, common) for every
    * pair sharing at least one cold shingle — sizes carried bit-packed
    * through the posting lists so no sizes join is ever needed.
    *
    * `pairMass` = the measured Σ C(df,2) for THIS frame (0 = unknown/
    * small): the optimizer sizes the stage from the shuffled posting
    * BYTES, but the stage's true volume is the EXPANDED pair mass the
    * slice generator emits — a number AQE cannot foresee and the guards
    * already measure and persist. Above 32 target partitions the bucket
    * frame re-keys by h to ceil(mass / [[PairsPerExpandPartition]])
    * (capped at 512), bounding the per-task pair volume the partial
    * aggregate must absorb.
    */
  private def pairCommonOf(docsIn: DataFrame, pairMass: Long = 0L): DataFrame = {
    val idx = shingleIndex(docsIn)
    val floor = shuffleWidth(idx)
    val k = math.min(MaxExpandPartitions, pairMass / PairsPerExpandPartition).toInt
    // Two volume-aware repartitions, both invisible to the optimizer
    // (stage sizing follows SHUFFLED bytes; here the volume is what the
    // slice generator EMITS — a number only the measured mass knows):
    // (1) the posting frame re-keys by h so each map task expands (and
    // shuffle-writes) a bounded share of the mass instead of AQE's
    // posting-byte-coalesced 16 fat tasks; (2) the RAW pair stream
    // re-keys by (a, b) so the pair aggregate runs complete on
    // ~500k-row tasks whose distinct-key state fits execution memory —
    // the 32-partition default put 4.3M pairs AND a multi-million-key
    // agg map per task and sort-spilled everything. Forgoing map-side
    // combine costs nothing here: a pair's duplicates live in DIFFERENT
    // h-buckets, so partial aggregation almost never merged them
    // pre-shuffle (measured: raw pair shuffle 1.7 GB vs combined
    // 1.4 GB). Measured at ×10 docs / 138M mass (each piece isolated
    // via per-stage spill attribution): 38.9 GiB spill / 21.5 s →
    // ZERO spill / 17.5 s.
    val keyed = if (k > floor) idx.repartition(k, col("h")) else idx
    val raw = keyed
      .groupBy(col("h"))
      .agg(sort_array(collect_list(col("d"))).as("docs"))
      .filter(size(col("docs")).between(2, HotShingleCap))
      .select(posexplode(col("docs")).as(Seq("i", "a")), col("docs"))
      .select(col("a"), explode(expr("slice(docs, i + 2, size(docs))")).as("b"))
    val pairs = if (k > floor) raw.repartition(k, col("a"), col("b")) else raw
    pairs
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
      .select(
        shiftright(col("a"), 24).as("doc_a"),
        col("a").bitwiseAND(lit((1L << 24) - 1)).as("sz_a"),
        shiftright(col("b"), 24).as("doc_b"),
        col("b").bitwiseAND(lit((1L << 24) - 1)).as("sz_b"),
        col("common"))
  }

  private val dedupJaccardSql =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, unnest(
       |    CASE WHEN len(t) >= 3
       |         THEN list_transform(generate_series(1, len(t) - 2),
       |                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE [] END) AS s
       |  FROM toks
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
       |), cold AS (
       |  SELECT * FROM sh WHERE s IN (
       |    SELECT s FROM sh GROUP BY s HAVING count(*) <= $HotShingleCap)
       |), common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, common,
       |       ${Det.roundSql("CAST(common AS DOUBLE) / (x.sz + y.sz - common)", 6)} AS jaccard
       |FROM common JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
       |WHERE ${Det.roundSql("CAST(common AS DOUBLE) / (x.sz + y.sz - common)", 6)} >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Containment-asymmetry report — the dedup axis symmetric Jaccard is
    * blind to: a short document fully embedded in a longer one (quoted
    * article, digest inclusion, boilerplate-wrapped copy) has
    * containment C(A→B) = |A∩B|/|A| ≈ 1 while its Jaccard stays below
    * any dedup threshold because the union is dominated by the longer
    * side. Over the same packed inverted-index pair kernel as
    * dedup_jaccard (one corpus pass, sizes bit-packed through the
    * posting lists, hot-shingle capped), every co-shingled pair is
    * binned by its MAX-side containment decile, with the count of
    * "subset duplicates the Jaccard pass misses" (cont ≥ 0.8, jaccard
    * < 0.6) and the mean Jaccard per decile — the measurement that
    * tells a 100 TB dedup pass whether it needs a containment stage at
    * all, and how big the missed mass is. Above ExactDocCap the whole
    * report runs on the deterministic 1/m doc-hash sample (Downgrade
    * logged), the tuning-curve discipline.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    dedupContainmentGuarded(spark, dir, ExactDocCap)

  private[graft] def dedupContainmentGuarded(
      spark: SparkSession, dir: String, cap: Long,
      pairBudget: Long = PairBudget): DataFrame = {
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    // ONE sampling decision from BOTH guard axes: doc count (the old
    // sampleAboveCap rule, m = ceil(nDocs/cap)) and duplicate density —
    // pair mass scales ~1/m² under a 1/m doc-hash sample, so
    // m = ceil(sqrt(mass/budget)) brings an over-budget corpus back
    // under PairBudget. max() satisfies both: mass/m² ≤ budget AND
    // sample ≤ cap. The axes must combine, not short-circuit: an
    // above-cap corpus whose 1/m0 sample RETAINS x20-level duplicate
    // density would still blow the spill envelope if the density axis
    // were skipped on the sampled path (round-12 review finding).
    val mCap = if (nDocs > cap) (nDocs + cap - 1) / cap else 1L
    // measurement deferred when the sound token-mass bound fits — only
    // the cheap persisted token scalar moves on provably-safe corpora
    val mass =
      if (pairMassBound(spark, dir) <= pairBudget) 0L
      else exactPairMass(spark, dir)
    val mMass =
      if (mass > pairBudget)
        math.max(2L, math.ceil(math.sqrt(mass.toDouble / pairBudget)).toLong)
      else 1L
    val m = math.max(mCap, mMass)
    // scan-fan (guide §2.5): same shingling kernel as dedup_jaccard —
    // per-row CPU above the scan (the sample filter stays below the fan
    // so the predicate still reaches the reader)
    val docs =
      if (m <= 1L) Tables.documentsFanned(spark, dir)
      else {
        if (mMass > mCap)
          graft.Downgrades.record(
            "dedup_containment", s"1/$m doc-hash sample (pair-mass)",
            mass, pairBudget)
        else
          graft.Downgrades.record(
            "dedup_containment", s"1/$m doc-hash sample", nDocs, cap)
        graft.Scans.fanSmall(
          spark,
          Tables.documents(spark, dir)
            .filter(pmod(xxhash64(col("doc_id")), lit(m)) === 0),
          dir, "documents")
      }
    // mass under a 1/m doc-hash sample scales ~1/m² (the same relation
    // mMass inverts) — size the expansion stage for the SAMPLED volume
    val measured = pairCommonOf(docs, if (m > 1L) mass / (m * m) else mass).select(
      greatest(
        Det.detRound(col("common").cast("double") / col("sz_a"), 6),
        Det.detRound(col("common").cast("double") / col("sz_b"), 6)).as("cmax"),
      Det.detRound(
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6)
        .as("jaccard"))
    measured
      .select(
        least(floor(col("cmax") * 10), lit(9.0)).cast("long").as("cont_decile"),
        col("cmax"), col("jaccard"))
      .groupBy(col("cont_decile"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("cmax") >= 0.8 && col("jaccard") < 0.6, 1L).otherwise(0L))
          .as("n_subset_missed"),
        Det.detRound(Det.fineSum(col("jaccard")) / count(lit(1)), 6)
          .as("mean_jaccard"))
      .orderBy(col("cont_decile"))
  }

  private val dedupContainmentSql = {
    def r6(e: String) = Det.roundSql(e, 6)
    val ca = r6("CAST(common AS DOUBLE) / x.sz")
    val cb = r6("CAST(common AS DOUBLE) / y.sz")
    val j  = r6("CAST(common AS DOUBLE) / (x.sz + y.sz - common)")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, unnest(
       |    CASE WHEN len(t) >= 3
       |         THEN list_transform(generate_series(1, len(t) - 2),
       |                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE [] END) AS s
       |  FROM toks
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
       |), cold AS (
       |  SELECT * FROM sh WHERE s IN (
       |    SELECT s FROM sh GROUP BY s HAVING count(*) <= $HotShingleCap)
       |), common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), measured AS (
       |  SELECT greatest($ca, $cb) AS cmax, $j AS jaccard
       |  FROM common JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
       |)
       |SELECT CAST(least(floor(cmax * 10), 9) AS BIGINT) AS cont_decile,
       |       count(*) AS n_pairs,
       |       CAST(SUM(CASE WHEN cmax >= 0.8 AND jaccard < 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_subset_missed,
       |       ${r6("CAST(SUM(CAST(jaccard AS DECIMAL(30,10))) AS DOUBLE) / count(*)")} AS mean_jaccard
       |FROM measured
       |GROUP BY 1
       |ORDER BY cont_decile""".stripMargin
  }

  /** Scalable (LSH-bucketed) twin of dedup_containment — the 100 TB
    * form of the containment tier: candidates come from the 16×4
    * minhash bands (bucket-capped, never all-pairs), and containment is
    * ESTIMATED from the signature-agreement Jaccard plus exact per-doc
    * distinct-shingle counts, no intersection recount:
    * |A∩B| = J·(|A|+|B|)/(1+J), so Ĉmax = |Â∩B| / min(|A|,|B|)
    * (clamped to 1). The size frame is one shuffle-free in-row pass
    * (size(array_distinct(shingles)) per doc). Emits every candidate
    * pair with Ĉmax ≥ 0.8 — including the quoted-article pairs whose
    * est Jaccard is below the 0.5 near-dup bar, which is the tier's
    * whole point. Oracle recomputes the full portable sketch, the size
    * counts, and the same estimate formula.
    *
    * Estimator honesty: LSH recall decays with true Jaccard (16×4 bands
    * at J=0.3 fire with p ≈ 1−(1−0.3⁴)¹⁶ ≈ 12%), so this view
    * under-reports LOW-overlap subset pairs; at C ≥ 0.8 on real
    * corpora the shared run typically spans enough of the short doc to
    * fire a band. The exact small-scale anchor (dedup_containment)
    * measures the same tier without the recall loss.
    */
  def dedupContainmentMinhash(spark: SparkSession, dir: String): DataFrame = {
    val (sigs, bands) = minhashBands(spark, dir, MinhashK)
    containmentMinhashOf(spark, dir, sigs, bands)
  }

  private[operators] def containmentMinhashOf(
      spark: SparkSession, dir: String,
      sigs: DataFrame, bands: DataFrame): DataFrame = {
    val k = MinhashK
    val sizes = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(
        col("doc_id"),
        size(array_distinct(expr(
          "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")))
          .cast("long").as("sz"))
    val candidates = bands
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")).between(2, 100))
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
          |  transform(slice(docs, i + 2, size(docs)), y ->
          |    struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val est = expr(
      s"graft_sig_matches(sig_a, sig_b) / CAST($k AS DOUBLE)")
    // sizes ride the signature frame so the candidate stream is joined
    // exactly TWICE (the dedup_minhash shape) — a first cut joined sigs
    // and sizes separately (four joins), which re-shuffled the 64-long
    // signature payload through both size joins: 116 GiB of spill at the
    // 100x docs probe vs zero for this form
    val enriched = sigs.join(sizes, "doc_id")
    candidates
      .join(
        enriched.select(
          col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(
        enriched.select(
          col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("sz").as("sz_b")),
        "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        Det.detRound(est, 6).as("est_jaccard"),
        Det.detRound(
          least(
            est * (col("sz_a") + col("sz_b")) / (lit(1.0) + est) /
              least(col("sz_a"), col("sz_b")).cast("double"),
            lit(1.0)), 6).as("est_cmax"))
      .filter(col("est_cmax") >= 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // lazy: declared above the MinhashK val — eager init would bake k=0
  // into the generated SQL (empty sig list, caught by the sf0.01 check)
  private lazy val dedupContainmentMinhashSql = {
    val est = estJaccardSql(MinhashK)
    val cmax = s"least(($est) * (za.sz + zb.sz) / (1 + ($est)) / " +
      "CAST(least(za.sz, zb.sz) AS DOUBLE), 1.0)"
    s"""WITH ${minhashSqlPrefix(MinhashK)},
       |zsizes AS (
       |  SELECT doc_id, CAST(len(list_distinct(
       |           list_transform(generate_series(1, len(t) - 2),
       |                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
       |         AS BIGINT) AS sz
       |  FROM toks WHERE len(t) >= 3
       |), cand AS (
       |  SELECT DISTINCT a.x AS doc_a, b.x AS doc_b
       |  FROM buck, unnest(docs) AS a(x), unnest(docs) AS b(x)
       |  WHERE len(docs) BETWEEN 2 AND 100 AND a.x < b.x
       |)
       |SELECT c.doc_a, c.doc_b,
       |       ${Det.roundSql(est, 6)} AS est_jaccard,
       |       ${Det.roundSql(cmax, 6)} AS est_cmax
       |FROM cand c
       |JOIN sigs sa ON c.doc_a = sa.doc_id
       |JOIN sigs sb ON c.doc_b = sb.doc_id
       |JOIN zsizes za ON c.doc_a = za.doc_id
       |JOIN zsizes zb ON c.doc_b = zb.doc_id
       |WHERE ${Det.roundSql(cmax, 6)} >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** MinHash(64) + LSH(16 bands × 4 rows) near-dup candidates, verified
    * by signature agreement (estimated Jaccard ≥ 0.5). Signatures use
    * PORTABLE md5-based hashing (graft_minhash_md5 /
    * functions.PortableHash), so the whole sketch — shingle hash, affine
    * permutations, banding, candidate expansion, verify — is
    * independently recomputed by the DuckDB oracle and hash-compared.
    * Bucket size capped at 100 to bound degenerate-skew blowup — capped
    * buckets are near-identical content, caught by dedup_exact anyway.
    */
  private[operators] val MinhashK = 64

  /** Full-corpus sketch as a STORED table (the ccLabels pattern): the
    * signature frame feeds ~6 dedup-family queries, each of which
    * previously re-signed the corpus because the harness releases all
    * cached state between queries (QueryState.release — an in-memory
    * memo silently degrades to an unpersisted recompute). DerivedCache
    * builds the parquet once per (documents stamp, k) and every
    * consumer — across queries AND JVMs — reads it back, which is
    * exactly the production shape: at 100 TB the sketch stage is a
    * materialized table the dedup pipeline writes once and joins
    * against, not something each job re-derives. Reads are cheap
    * columnar scans, so the frame needs no persist and adds no cache
    * pressure. `v=1` versions the kernel: bump it if the
    * graft_minhash_md5 basis or banding layout ever changes, since the
    * source stamp cannot see code changes.
    */
  private def minhashBands(
      spark: SparkSession, dir: String, k: Int): (DataFrame, DataFrame) = {
    // the ONE signature kernel (minhashBandsOf) writes the store — a
    // second inline copy here would let the stored full-corpus sketch
    // drift from the sampled/incremental paths on a kernel change the
    // manual v= bump missed
    val sigs = graft.sources.DerivedCache.tables(
      s"$dir/documents.parquet", "minhash-sigs", s"k=$k;v=1") {
      _.table("sigs",
        minhashBandsOf(Tables.documents(spark, dir), k, persistSigs = false)._1)
    }.read(spark, "sigs")
    (sigs, bandsOf(sigs))
  }

  /** Same sketch over an arbitrary (doc_id, text) frame — the
    * incremental path signs base and delta separately.
    */
  private[graft] def minhashBandsOf(
      docs: DataFrame, k: Int, persistSigs: Boolean = true): (DataFrame, DataFrame) = {
    val raw = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr(s"graft_minhash_md5(t, $k)").as("sig"))
    // persist pays when the corpus-sized sigs frame feeds two plan
    // branches; a bounded micro-batch (streaming probe) signs twice
    // cheaper than it persists — caller picks
    val sigs =
      if (persistSigs) raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else raw
    (sigs, bandsOf(sigs))
  }

  /** 16×4 LSH band rows of a (doc_id, sig) frame — band key = the 4
    * signature values joined as a string (engine-portable, unlike
    * Murmur `hash()`). Signatures are NOT carried through the band
    * explosion (64 longs each; shipping them through the shuffle
    * dominated runtime) — consumers join them back by doc_id.
    */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(expr(
        """transform(sequence(0, 15), b -> struct(b AS band,
          |  array_join(transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)), ',') AS bh))""".stripMargin))
        .as("lsh"))
      .select(col("doc_id"), col("lsh.band"), col("lsh.bh"))

  /** Shared CTE prefix of the minhash oracles: shingle → md5h32 → the
    * k affine-permutation minima (the same (a_j, b_j) literals the
    * codegen kernel uses) → band rows → sorted bucket lists.
    */
  private[operators] def minhashSqlPrefix(k: Int, src: String = "documents"): String = {
    import graft.functions.{MinHashMd5, PortableHash}
    val sigList = (0 until k)
      .map(j => s"min((${MinHashMd5.as(j)} * h + ${MinHashMd5.bs(j)}) % ${PortableHash.P})")
      .mkString("[\n           ", ",\n           ", "]")
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM ${src}
       |), sh AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(t) >= 3
       |         THEN list_transform(generate_series(1, len(t) - 2),
       |                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE [] END) AS s
       |  FROM toks
       |), hs AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM sh
       |), sigs AS (
       |  SELECT doc_id, $sigList AS sig
       |  FROM hs GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, band,
       |         array_to_string(list_slice(sig, band * 4 + 1, band * 4 + 4), ',') AS bh
       |  FROM sigs, (SELECT unnest(generate_series(0, 15)) AS band)
       |), buck AS (
       |  SELECT band, bh, list_sort(list(doc_id)) AS docs
       |  FROM bands GROUP BY band, bh
       |)""".stripMargin
  }

  private[operators] def estJaccardSql(k: Int) =
    s"CAST(len(list_filter(generate_series(1, $k), j -> sa.sig[j] = sb.sig[j])) AS DOUBLE) / $k"

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val (sigs, bands) = minhashBands(spark, dir, MinhashK)
    dedupMinhashOf(sigs, bands)
  }

  /** The minhash candidate+verify kernel over an arbitrary (sigs,
    * bands) pair — factored so bounded-sample callers (the above-cap
    * pair-quality route) grade the REAL kernel over their sample
    * instead of the full corpus.
    */
  private[operators] def dedupMinhashOf(sigs: DataFrame, bands: DataFrame): DataFrame =
    dedupMinhashOfUnordered(sigs, bands).orderBy(col("doc_a"), col("doc_b"))

  /** The same kernel WITHOUT the presentation sort — for internal
    * consumers (editdist's verify-budget TopKPerKey). A global orderBy
    * buried under a custom logical node is invisible to EliminateSorts,
    * so it survives as a RangePartitioning exchange whose SAMPLING pass
    * re-executes the whole upstream subtree (measured: capped editdist
    * at x10 went 36 s -> 250 s before this split).
    */
  private def dedupMinhashOfUnordered(sigs: DataFrame, bands: DataFrame): DataFrame = {
    val k = MinhashK
    val candidates = bands
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")).between(2, 100))
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
          |  transform(slice(docs, i + 2, size(docs)), y ->
          |    struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    candidates
      .join(sa, "doc_a")
      .join(sb, "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        Det.detRound(
          expr(s"graft_sig_matches(sig_a, sig_b) / CAST($k AS DOUBLE)"),
          6).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** Unordered full-corpus minhash pairs for internal consumers. */
  private def dedupMinhashUnordered(spark: SparkSession, dir: String): DataFrame = {
    val (sigs, bands) = minhashBands(spark, dir, MinhashK)
    dedupMinhashOfUnordered(sigs, bands)
  }

  /** DuckDB twin of dedupMinhash: the full sketch recomputed — same
    * shingles, same md5 base hash, same permutation constants, same
    * band keys, same bucket cap, same verify threshold.
    */
  private val dedupMinhashSql = {
    val est = estJaccardSql(MinhashK)
    s"""WITH ${minhashSqlPrefix(MinhashK)},
       |cand AS (
       |  SELECT DISTINCT a.x AS doc_a, b.x AS doc_b
       |  FROM buck, unnest(docs) AS a(x), unnest(docs) AS b(x)
       |  WHERE len(docs) BETWEEN 2 AND 100 AND a.x < b.x
       |)
       |SELECT c.doc_a, c.doc_b, ${Det.roundSql(est, 6)} AS est_jaccard
       |FROM cand c
       |JOIN sigs sa ON c.doc_a = sa.doc_id
       |JOIN sigs sb ON c.doc_b = sb.doc_id
       |WHERE ${Det.roundSql(est, 6)} >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SimHash(64-bit) near-dup pairs: PORTABLE md5-basis signatures via
    * graft_simhash_md5 (two 32-bit halves), 4×16-bit band blocking,
    * Hamming distance ≤ 3 confirm via bit_count(xor) per half. Every
    * stage is recomputed by the DuckDB oracle — the sketch is
    * hash-compared, not just spec-bounded. On the fixture this recovers
    * 80% of the exact-Jaccard pairs (unigram simhash is cruder than
    * shingle minhash by design).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    dedupSimhashOf(Tables.documents(spark, dir))
  }

  /** The simhash kernel over an arbitrary (doc_id, text) frame — same
    * factoring rationale as [[dedupMinhashOf]].
    */
  private[operators] def dedupSimhashOf(docsIn: DataFrame): DataFrame =
    simhashHammingOf(docsIn, maxHam = 3).orderBy(col("doc_a"), col("doc_b"))

  /** Banded simhash candidates with Hamming ≤ maxHam — the shared
    * candidate+confirm stage of dedup_simhash (maxHam = 3, the shipped
    * cut) and simhash_threshold_curve (maxHam = 8, the tuning window).
    */
  private[operators] def simhashHammingOf(docsIn: DataFrame, maxHam: Int): DataFrame = {
    val sigs = docsIn
      .select(col("doc_id"), expr("graft_simhash_md5(split(text, ' '))").as("s"))
      .select(col("doc_id"), expr("s[0]").as("hi"), expr("s[1]").as("lo"))
    // Size-capped posting-list pair expansion per 16-bit band (the same
    // bounded-candidates shape as dedup_minhash) instead of an uncapped
    // band self-join — the 10× documents probe (SCALE_DOCS=1, cross-copy
    // near-identical docs) showed the self-join going quadratic in hot
    // buckets (48 s vs 3.6 s for this form). Capped buckets hold
    // near-identical content already caught by dedup_exact/minhash.
    val sigsP = sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = sigsP.select(
      col("doc_id"),
      explode(expr(
        """transform(sequence(0, 3), b -> struct(b AS band,
          |  CASE WHEN b = 0 THEN lo & 65535
          |       WHEN b = 1 THEN shiftright(lo, 16) & 65535
          |       WHEN b = 2 THEN hi & 65535
          |       ELSE shiftright(hi, 16) & 65535 END AS bh))""".stripMargin))
        .as("lsh"))
      .select(col("doc_id"), col("lsh.band"), col("lsh.bh"))
    val candidates = bands
      .groupBy(col("band"), col("bh"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, 200).as("docs"))
      .select(posexplode(col("docs")).as(Seq("i", "doc_a")), col("docs"))
      .select(col("doc_a"), explode(expr("slice(docs, i + 2, size(docs))")).as("doc_b"))
      .distinct()
    candidates
      .join(
        sigsP.select(col("doc_id").as("doc_a"), col("hi").as("hi_a"), col("lo").as("lo_a")),
        "doc_a")
      .join(
        sigsP.select(col("doc_id").as("doc_b"), col("hi").as("hi_b"), col("lo").as("lo_b")),
        "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHam)
  }

  /** DuckDB twin of dedupSimhash: token hashes from the same md5 hex
    * ranges, per-bit ±1 sums, sign bits reassembled per 32-bit half,
    * same bands, caps and Hamming confirm.
    */
  private val dedupSimhashSql = {
    val ham = "bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo))"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM documents
       |), th AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(s), 1, 8))::BIGINT AS hi,
       |         ('0x' || substr(md5(s), 9, 8))::BIGINT AS lo
       |  FROM toks
       |), bits AS (
       |  SELECT doc_id, j,
       |         SUM(CASE WHEN (lo >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c_lo,
       |         SUM(CASE WHEN (hi >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c_hi
       |  FROM th, (SELECT unnest(generate_series(0, 31)) AS j)
       |  GROUP BY doc_id, j
       |), sigs AS (
       |  SELECT doc_id,
       |         SUM(CASE WHEN c_hi > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS hi,
       |         SUM(CASE WHEN c_lo > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS lo
       |  FROM bits GROUP BY doc_id
       |), sbands AS (
       |  SELECT doc_id, band,
       |         CASE WHEN band = 0 THEN lo & 65535
       |              WHEN band = 1 THEN (lo >> 16) & 65535
       |              WHEN band = 2 THEN hi & 65535
       |              ELSE (hi >> 16) & 65535 END AS bh
       |  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band)
       |), sbuck AS (
       |  SELECT band, bh, list_slice(list_sort(list(doc_id)), 1, 200) AS docs
       |  FROM sbands GROUP BY band, bh
       |), cand AS (
       |  SELECT DISTINCT a.x AS doc_a, b.x AS doc_b
       |  FROM sbuck, unnest(docs) AS a(x), unnest(docs) AS b(x)
       |  WHERE a.x < b.x
       |)
       |SELECT c.doc_a, c.doc_b, CAST($ham AS BIGINT) AS hamming
       |FROM cand c
       |JOIN sigs sa ON c.doc_a = sa.doc_id
       |JOIN sigs sb ON c.doc_b = sb.doc_id
       |WHERE $ham <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val SimCurveMaxHam = 8

  /** SimHash threshold tuning curve — the third member of the tuning
    * family (minhash_k_curve prices the sketch width, lsh_band_sweep
    * the band geometry; this prices the Hamming cut): for every
    * cumulative threshold t ≤ [[SimCurveMaxHam]] present among the
    * banded candidates, the flagged pair count, how many of those are
    * true exact dups (the stored J ≥ 0.6 anchor), agreement
    * (= |flag ∩ exact| / |flag|, the dedup_pair_quality convention) and
    * recall (= |flag ∩ exact| / |exact|). The shipped cut is 3; the
    * curve is the evidence for moving it — e.g. recall still climbing
    * at t = 3 with agreement flat says loosen, agreement collapsing
    * above t = 4 says don't.
    *
    * Scale: candidates come from the same capped 16-bit band buckets as
    * dedup_simhash (never all-pairs), one left join marks anchor hits,
    * and everything after the per-hamming aggregate is a ≤ 9-row frame
    * (the cumulative window runs there). Above [[KCurveDocCap]] the
    * whole measurement — bands, anchor, curve — runs on the 1/m
    * doc-hash sample, the tuning-curve discipline.
    */
  def simhashThresholdCurve(spark: SparkSession, dir: String): DataFrame =
    simhashThresholdCurveGuarded(spark, dir, KCurveDocCap)

  private[graft] def simhashThresholdCurveGuarded(
      spark: SparkSession, dir: String, cap: Long): DataFrame = {
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    val (docs, m) =
      sampleAboveCap("simhash_threshold_curve", Tables.documents(spark, dir), nDocs, cap)
    val anchor = jaccardAnchorStored(spark, dir, docs, m)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    val byH = simhashHammingOf(docs, SimCurveMaxHam)
      .join(anchor, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("hamming"))
      .agg(
        count(lit(1)).as("n_at"),
        sum(coalesce(col("hit"), lit(0L))).as("hit_at"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("hamming"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    byH
      .withColumn("n_pairs", sum(col("n_at")).over(w))
      .withColumn("n_hit", sum(col("hit_at")).over(w))
      .crossJoin(broadcast(anchor.agg(count(lit(1)).as("n_exact"))))
      .select(
        col("hamming").as("max_hamming"),
        col("n_pairs"),
        col("n_hit"),
        col("n_exact"),
        when(col("n_pairs") === 0, lit(0.0))
          .otherwise(Det.detRound(col("n_hit").cast("double") / col("n_pairs"), 6))
          .as("agreement"),
        when(col("n_exact") === 0, lit(0.0))
          .otherwise(Det.detRound(col("n_hit").cast("double") / col("n_exact"), 6))
          .as("recall"))
      .orderBy(col("max_hamming"))
  }

  /** DuckDB twin of simhashThresholdCurve: the dedup_simhash CTE chain
    * widened to Hamming ≤ 8, the exact anchor nested as a subquery,
    * per-hamming counts and the cumulative window replayed.
    */
  private val simhashThresholdCurveSql = {
    def r6(e: String) = Det.roundSql(e, 6)
    val ham = "bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo))"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM documents
       |), th AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(s), 1, 8))::BIGINT AS hi,
       |         ('0x' || substr(md5(s), 9, 8))::BIGINT AS lo
       |  FROM toks
       |), bits AS (
       |  SELECT doc_id, j,
       |         SUM(CASE WHEN (lo >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c_lo,
       |         SUM(CASE WHEN (hi >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c_hi
       |  FROM th, (SELECT unnest(generate_series(0, 31)) AS j)
       |  GROUP BY doc_id, j
       |), sigs AS (
       |  SELECT doc_id,
       |         SUM(CASE WHEN c_hi > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS hi,
       |         SUM(CASE WHEN c_lo > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS lo
       |  FROM bits GROUP BY doc_id
       |), sbands AS (
       |  SELECT doc_id, band,
       |         CASE WHEN band = 0 THEN lo & 65535
       |              WHEN band = 1 THEN (lo >> 16) & 65535
       |              WHEN band = 2 THEN hi & 65535
       |              ELSE (hi >> 16) & 65535 END AS bh
       |  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band)
       |), sbuck AS (
       |  SELECT band, bh, list_slice(list_sort(list(doc_id)), 1, 200) AS docs
       |  FROM sbands GROUP BY band, bh
       |), scand AS (
       |  SELECT DISTINCT a.x AS doc_a, b.x AS doc_b
       |  FROM sbuck, unnest(docs) AS a(x), unnest(docs) AS b(x)
       |  WHERE a.x < b.x
       |), ham AS (
       |  SELECT c.doc_a, c.doc_b, CAST($ham AS BIGINT) AS hamming
       |  FROM scand c
       |  JOIN sigs sa ON c.doc_a = sa.doc_id
       |  JOIN sigs sb ON c.doc_b = sb.doc_id
       |  WHERE $ham <= $SimCurveMaxHam
       |), x AS (
       |  SELECT doc_a, doc_b FROM ($dedupJaccardSql) jx
       |), byh AS (
       |  SELECT hamming, count(*) AS n_at,
       |         SUM(CASE WHEN x.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS hit_at
       |  FROM ham LEFT JOIN x ON ham.doc_a = x.doc_a AND ham.doc_b = x.doc_b
       |  GROUP BY hamming
       |), cum AS (
       |  SELECT hamming AS max_hamming,
       |         SUM(n_at)  OVER (ORDER BY hamming
       |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_pairs,
       |         SUM(hit_at) OVER (ORDER BY hamming
       |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_hit
       |  FROM byh
       |)
       |SELECT max_hamming,
       |       CAST(n_pairs AS BIGINT) AS n_pairs,
       |       CAST(n_hit AS BIGINT) AS n_hit,
       |       (SELECT count(*) FROM x) AS n_exact,
       |       CASE WHEN n_pairs = 0 THEN CAST(0 AS DOUBLE)
       |            ELSE ${r6("CAST(n_hit AS DOUBLE) / n_pairs")} END AS agreement,
       |       CASE WHEN (SELECT count(*) FROM x) = 0 THEN CAST(0 AS DOUBLE)
       |            ELSE ${r6("CAST(n_hit AS DOUBLE) / (SELECT count(*) FROM x)")} END AS recall
       |FROM cum
       |ORDER BY max_hamming""".stripMargin
  }

  /** Duplicate-cluster assignment: connected components over the
    * near-dup pair graph via iterative min-label propagation (the
    * standard distributed CC — converges in O(graph diameter)
    * iterations, each one join + one aggregate; lineage truncated per
    * round with Ckpt.cut). cluster_id = smallest doc_id in the
    * component, i.e. the canonical document to keep. Oracle: a
    * recursive-CTE transitive closure over the same exact-Jaccard pairs
    * (min reachable id ≡ the min-label fixpoint).
    */
  /** Build-once stored cluster-label table: the connected-components
    * fixpoint over `pairs`, materialized to a DerivedCache parquet dir
    * keyed by corpus fingerprint. CC is the expensive shared stage of
    * the cluster family — dedup_clusters, dedup_keep_best and (via the
    * minhash flavor) dedup_cluster_sizes all consume the SAME label
    * assignment, and a production pipeline materializes that assignment
    * once per corpus version rather than re-running label propagation
    * per downstream query (the same stored-stage shape as the
    * incremental dedup base index above and the IVF/PQ index tables).
    * The fingerprint carries the row count and every cap the pair
    * derivation depends on; DerivedCache adds the source-file stamp, so
    * regenerated data rebuilds instead of serving stale labels.
    */
  private def ccLabels(
      spark: SparkSession, dir: String, flavor: String, fingerprint: String)(
      pairs: => DataFrame): DataFrame =
    graft.sources.DerivedCache.tables(dir, s"dedup-cc-$flavor", fingerprint) {
      _.table("labels", Graph.connectedComponents(pairs))
    }.read(spark, "labels")

  /** The stored exact-Jaccard CC label table (node, label) — factored
    * so the cross-tier pipeline report can read the SAME stored
    * artifact dedup_clusters serves, with an identical fingerprint.
    */
  private def exactCcLabels(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.cachedCount(spark, dir, "documents")
    ccLabels(
      spark, dir, "exact",
      s"rows=$rows;cap=$ExactDocCap;hot=$HotShingleCap;tau=0.6")(
      dedupJaccard(spark, dir).select(col("doc_a"), col("doc_b")))
  }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    exactCcLabels(spark, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))

  /** DuckDB twin of dedupClusters: connected components as a recursive
    * transitive closure — `reach(node, r)` grows until fixpoint (UNION
    * dedups, so it terminates), then cluster_id = min reachable id,
    * which is exactly the min-label-propagation fixpoint.
    */
  private val dedupClustersSql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |${dedupJaccardSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |), edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |), reach(node, r) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
       |)
       |SELECT node AS doc_id, min(r) AS cluster_id
       |FROM reach
       |GROUP BY node
       |ORDER BY doc_id""".stripMargin

  /** Edit-distance verification of the Jaccard near-dup candidates:
    * Levenshtein distance + normalized similarity for each candidate
    * pair (codegen'd built-in, no UDF). The expensive O(len²) kernel
    * runs only on the shingle-filtered pair list — the standard
    * "cheap filter, exact verify" cascade; both stages are
    * oracle-checked.
    *
    * UNIT CONVENTION: distance and the similarity denominator are in
    * UTF-8 BYTES, not characters — DuckDB's `levenshtein` is
    * byte-based while Spark's is codepoint-based (unicode_sweep-found
    * divergence: 21 vs 45 on CJK text). Byte-level is also what
    * large-scale dedup systems actually run (encoding-stable, no
    * decode in the O(len²) kernel); Spark is lowered to byte level by
    * the encode→ISO-8859-1-decode trick (one char per byte), which
    * Spark's levenshtein then counts exactly like DuckDB's.
    *
    * VERIFY BUDGET: the O(len²) kernel runs on at most
    * [[EditVerifyCap]] candidates per doc_a — top-j by (estimated)
    * jaccard, ties to the smaller doc_b, selected on the bounded-heap
    * TopKPerKey and mirrored as `row_number() <= j` in the oracle. On a
    * duplicated corpus the candidate stage (routed to minhash above the
    * caps) still emits C(copies,2) pairs per copy-group, and an
    * UNBUDGETED verify pays a full-text O(len²) distance on every one —
    * the registry's worst legal tail (87.9 s / the only >26 GiB spill at
    * the ×20 density probe). The cap bounds verify work to j·n docs; a
    * doc's strongest matches are exactly the ones kept. Test-scale
    * corpora sit far below the cap (max 3 candidates/doc at sf0.1), so
    * sf hashes are unchanged.
    */
  def dedupEditdist(spark: SparkSession, dir: String): DataFrame =
    dedupEditdistCapped(spark, dir, EditVerifyCap)

  /** Max levenshtein-verified candidates per doc_a — see dedupEditdist. */
  private[graft] val EditVerifyCap = 8

  private[graft] def dedupEditdistCapped(
      spark: SparkSession, dir: String, verifyCap: Int): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def b(c: org.apache.spark.sql.Column) = decode(encode(c, "UTF-8"), "ISO-8859-1")
    // SHUFFLE_HASH, not broadcast, on the text joins: capped pairs are
    // 8·n rows — corpus-sized, NOT broadcastable at 100 TB — and a
    // broadcast-of-pairs plan streams the DOCS SCAN, whose handful of
    // file splits collapses the O(len²) verify to 1-2 tasks (measured at
    // x10: 101 s single-task vs seconds across 32 shuffle partitions).
    // The shuffle join distributes the levenshtein across the cluster.
    org.apache.spark.sql.graft.TopK
      .perKey(
        dedupJaccardGuarded(spark, dir, ExactDocCap, ordered = false)
          .select(col("doc_a"), col("doc_b"), col("jaccard")),
        Seq("doc_a"),
        Seq("jaccard" -> false, "doc_b" -> true),
        k = verifyCap,
        rankName = "rn")
      .drop("rn")
      .hint("shuffle_hash")
      .join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("text", "text_a"), "doc_a")
      .hint("shuffle_hash")
      .join(docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("text", "text_b"), "doc_b")
      // edit_dist computed ONCE, edit_sim derived from it in a second
      // projection — the single-select form relied on codegen
      // subexpression elimination to avoid running the O(len²) kernel
      // twice per pair; deriving from the named column makes the single
      // evaluation structural
      .select(
        col("doc_a"),
        col("doc_b"),
        col("jaccard"),
        levenshtein(b(col("text_a")), b(col("text_b"))).cast("long").as("edit_dist"),
        greatest(octet_length(col("text_a")), octet_length(col("text_b")))
          .cast("double").as("max_len"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("jaccard"),
        col("edit_dist"),
        Det.detRound(
          lit(1.0) - col("edit_dist").cast("double") / col("max_len"), 6)
          .as("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val dedupEditdistSql =
    s"""WITH allpairs AS (
       |${dedupJaccardSql.linesIterator.map("  " + _).mkString("\n")}
       |), pairs AS (
       |  -- verify budget: top-$EditVerifyCap candidates per doc_a by
       |  -- jaccard (ties to the smaller doc_b) — mirrors TopKPerKey
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT doc_a, doc_b, jaccard,
       |           row_number() OVER (PARTITION BY doc_a
       |                              ORDER BY jaccard DESC, doc_b) AS rn
       |    FROM allpairs)
       |  WHERE rn <= $EditVerifyCap
       |)
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       |       ${Det.roundSql(
        "1.0 - levenshtein(a.text, b.text) / CAST(greatest(strlen(a.text), strlen(b.text)) AS DOUBLE)",
        6)} AS edit_sim
       |FROM pairs p
       |JOIN documents a ON p.doc_a = a.doc_id
       |JOIN documents b ON p.doc_b = b.doc_id
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** Star-edge candidate graph from the stored sketch, signature-
    * verified — factored from dedupClustersMinhash so the above-cap
    * keep-best routes can reuse the bounded connectivity edges.
    */
  private def minhashStarEdges(spark: SparkSession, dir: String): DataFrame = {
      val (sigs, bands) = minhashBands(spark, dir, MinhashK)
      // Star edges, not all pairs: clustering needs CONNECTIVITY, so
      // each bucket contributes (m-1) hub↔member edges — every member
      // reaches every other through the bucket minimum — instead of
      // C(m,2) pairs. Candidate work is linear in bucket size (the cap
      // rises 100→1000), which removes the copies² blowup on duplicated
      // corpora: 34 s → see BASELINE 30×-docs probe. Each edge is still
      // signature-verified; the trade-off is that two docs similar to
      // each other but not to their bucket hub can lose the link — ≥80%
      // pair agreement with the exact clusters is spec-asserted.
      val starEdges = bands
        .groupBy(col("band"), col("bh"))
        .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
        .filter(size(col("docs")).between(2, 1000))
        .select(
          element_at(col("docs"), 1).as("doc_a"),
          explode(expr("slice(docs, 2, size(docs))")).as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      starEdges
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .filter(
          expr(s"graft_sig_matches(sig_a, sig_b) / CAST($MinhashK AS DOUBLE)") >= 0.5)
        .select(col("doc_a"), col("doc_b"))
  }

  /** Cluster assignment on the BOUNDED-work candidate graph: connected
    * components over the minhash-LSH pairs instead of the exact
    * inverted-index pairs — the 100 TB form of dedup_clusters (the
    * exact form is output-quadratic on duplicated corpora; see
    * BASELINE.md's 10×-documents probe). Same canonical min-id labels;
    * agreement with the exact clusters is spec-asserted on the fixture.
    */
  /** The stored minhash-LSH CC label table — see [[exactCcLabels]]. */
  private def minhashCcLabels(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.cachedCount(spark, dir, "documents")
    // the edge derivation is by-name (lazy) so a label-cache hit skips
    // the whole sketch construction (including its persist marks)
    ccLabels(
      spark, dir, "minhash",
      s"rows=$rows;k=$MinhashK;bucketCap=1000;tau=0.5")(minhashStarEdges(spark, dir))
  }

  def dedupClustersMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashCcLabels(spark, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))

  /** DuckDB twin of dedupClustersMinhash: the same star-edge candidate
    * graph (hub = bucket minimum) from the portable sketch, signature
    * verify, then the recursive-CTE transitive closure.
    */
  private val dedupClustersMinhashSql = {
    val est = estJaccardSql(MinhashK)
    s"""WITH RECURSIVE ${minhashSqlPrefix(MinhashK)},
       |star0 AS (
       |  SELECT docs[1] AS doc_a, unnest(list_slice(docs, 2, len(docs))) AS doc_b
       |  FROM buck WHERE len(docs) BETWEEN 2 AND 1000
       |), star AS (
       |  SELECT DISTINCT doc_a, doc_b FROM star0
       |), verified AS (
       |  SELECT s.doc_a, s.doc_b FROM star s
       |  JOIN sigs sa ON s.doc_a = sa.doc_id
       |  JOIN sigs sb ON s.doc_b = sb.doc_id
       |  WHERE $est >= 0.5
       |), edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM verified
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM verified
       |), reach(node, r) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
       |)
       |SELECT node AS doc_id, min(r) AS cluster_id
       |FROM reach
       |GROUP BY node
       |ORDER BY doc_id""".stripMargin
  }

  /** Cluster canonicalization — the "keep best of each duplicate group"
    * pass that actually shrinks the corpus: within every near-dup cluster
    * keep the longest document (ties to the smallest doc_id), and report
    * the group size. Selection goes through the bounded-heap TopKPerKey
    * operator (k=1) — no per-cluster window sort — and the member count
    * rides the same grouped frame; clusters here are the exact-Jaccard
    * components, so the whole chain (pairs → components → canonical pick)
    * is oracle-verified end to end.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    keepBestOf(
      dedupClusters(spark, dir)
        .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")), "doc_id"))

  /** Shared canonicalization kernel: given (doc_id, cluster_id, n_chars)
    * membership, keep the longest doc per cluster (ties to smallest
    * doc_id) via the bounded-heap TopKPerKey (k=1) — no per-cluster
    * window sort — with the member count riding the same grouped frame.
    */
  private[graft] def keepBestOf(members: DataFrame): DataFrame = {
    val sizes = members.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    org.apache.spark.sql.graft.TopK
      .perKey(
        members,
        Seq("cluster_id"),
        Seq("n_chars" -> false, "doc_id" -> true),
        k = 1,
        rankName = "rn")
      .join(sizes, "cluster_id")
      .select(
        col("cluster_id"),
        col("doc_id").as("kept_doc"),
        col("n_chars").cast("long").as("kept_chars"),
        col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** DuckDB twin of dedupKeepBest: the cluster closure as a subquery,
    * then row_number + count over each cluster partition.
    */
  private val dedupKeepBestSql =
    s"""WITH j AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars
       |  FROM (
       |${dedupClustersSql.linesIterator.map("    " + _).mkString("\n")}
       |  ) c
       |  JOIN documents d ON c.doc_id = d.doc_id
       |), r AS (
       |  SELECT cluster_id, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM j
       |)
       |SELECT cluster_id, doc_id AS kept_doc,
       |       CAST(n_chars AS BIGINT) AS kept_chars,
       |       CAST(n_members AS BIGINT) AS n_members
       |FROM r
       |WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** Keep-best over the BOUNDED minhash clusters — the production form
    * of dedup_keep_best: canonicalization runs on the LSH star-edge
    * components (candidate work linear in bucket size, never all-pairs),
    * so the corpus-shrinking pass itself survives a duplicated 100 TB
    * corpus instead of inheriting the exact anchor's output-quadratic
    * pair kernel. Same bounded-heap TopKPerKey pick (longest doc, ties
    * to smallest id) and member counts as the exact form; agreement
    * with the exact clusters is what dedup_clusters_minhash's spec
    * already asserts.
    */
  def dedupKeepBestMinhash(spark: SparkSession, dir: String): DataFrame =
    keepBestOf(
      dedupClustersMinhash(spark, dir)
        .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")), "doc_id"))

  private lazy val dedupKeepBestMinhashSql =
    s"""WITH j AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars
       |  FROM (
       |${dedupClustersMinhashSql.linesIterator.map("    " + _).mkString("\n")}
       |  ) c
       |  JOIN documents d ON c.doc_id = d.doc_id
       |), r AS (
       |  SELECT cluster_id, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM j
       |)
       |SELECT cluster_id, doc_id AS kept_doc,
       |       CAST(n_chars AS BIGINT) AS kept_chars,
       |       CAST(n_members AS BIGINT) AS n_members
       |FROM r
       |WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** Containment edge tier for the cluster graph: the same packed pair
    * kernel, but a pair is an edge when EITHER symmetric Jaccard ≥ 0.6
    * OR max-side containment ≥ 0.8 — so a short document fully embedded
    * in a longer one (quoted article, digest inclusion) joins the
    * cluster that symmetric Jaccard alone never links it to (union
    * dominated by the long side). Both thresholds detRound-pinned to
    * match the oracle's edge membership exactly.
    */
  private[graft] def containmentEdgesOf(
      docsIn: DataFrame, pairMass: Long = 0L): DataFrame =
    pairCommonOf(docsIn, pairMass)
      .select(
        col("doc_a"),
        col("doc_b"),
        Det.detRound(
          col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6)
          .as("jaccard"),
        greatest(
          Det.detRound(col("common").cast("double") / col("sz_a"), 6),
          Det.detRound(col("common").cast("double") / col("sz_b"), 6)).as("cmax"))
      .filter(col("jaccard") >= 0.6 || col("cmax") >= 0.8)
      .select(col("doc_a"), col("doc_b"))

  /** Keep-best with the containment tier dedup_containment measures:
    * canonicalization over connected components of the UNION edge set
    * (Jaccard ≥ 0.6 ∪ containment ≥ 0.8), so a strict-subset duplicate
    * is clustered with — and dropped in favor of — its superset doc
    * (spec: Round11AdditionsSpec proves a quoted-article pair that
    * survives dedup_keep_best is collapsed here). Same stored CC labels
    * pattern and bounded-heap canonical pick as dedup_keep_best; above
    * ExactDocCap the exact pair kernel is quadratic by design, so the
    * edge set routes to the BOUNDED union of the minhash star edges and
    * the LSH-estimated containment edges (dedup_containment_minhash's
    * kernel) with a logged downgrade — the containment tier itself
    * survives the scale routing, it doesn't degrade to symmetric-only.
    */
  def dedupKeepBestContainment(spark: SparkSession, dir: String): DataFrame =
    dedupKeepBestContainmentGuarded(spark, dir, ExactDocCap)

  private[graft] def dedupKeepBestContainmentGuarded(
      spark: SparkSession, dir: String, cap: Long,
      pairBudget: Long = PairBudget): DataFrame = {
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    // route on EITHER axis: corpus size (cap) or duplicate density
    // (pair-expansion mass) — see PairBudget; the mass measurement is
    // skipped when the sound token-mass bound fits the budget
    // mass is only measured when it can change the outcome: above the
    // doc cap the route is already decided, and measuring there would
    // fire a corpus-sized construction job on exactly the largest
    // corpora (round-14 review finding)
    val massOpt =
      if (nDocs > cap || pairMassBound(spark, dir) <= pairBudget) None
      else Some(exactPairMass(spark, dir))
    val overBudget = nDocs <= cap && massOpt.exists(_ > pairBudget)
    val labels = if (nDocs > cap || overBudget) {
      graft.Downgrades.record(
        "dedup_keep_best_containment", "minhash_star+containment_minhash",
        if (overBudget) massOpt.get else nDocs,
        if (overBudget) pairBudget else ExactDocCap)
      def edges: DataFrame = {
        val (sigs, bands) = minhashBands(spark, dir, MinhashK)
        minhashStarEdges(spark, dir).unionByName(
          containmentMinhashOf(spark, dir, sigs, bands)
            .select(col("doc_a"), col("doc_b")))
          .dropDuplicates("doc_a", "doc_b")
      }
      ccLabels(
        spark, dir, "minhashcont",
        s"rows=$nDocs;k=$MinhashK;bucketCap=1000;tau=0.5;cont=0.8")(edges)
    } else ccLabels(
      spark, dir, "exactcont",
      s"rows=$nDocs;cap=$cap;hot=$HotShingleCap;tau=0.6;cont=0.8")(
      containmentEdgesOf(Tables.documents(spark, dir), massOpt.getOrElse(0L)))
    keepBestOf(
      labels
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")), "doc_id"))
  }

  /** DuckDB twin of dedupKeepBestContainment: the union edge set from
    * the same shingle CTEs, the recursive-CTE closure, then the keep-best
    * window over each cluster partition.
    */
  private val dedupKeepBestContainmentSql = {
    def r6(e: String) = Det.roundSql(e, 6)
    val ca = r6("CAST(common AS DOUBLE) / x.sz")
    val cb = r6("CAST(common AS DOUBLE) / y.sz")
    val j  = r6("CAST(common AS DOUBLE) / (x.sz + y.sz - common)")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, unnest(
       |    CASE WHEN len(t) >= 3
       |         THEN list_transform(generate_series(1, len(t) - 2),
       |                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE [] END) AS s
       |  FROM toks
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
       |), cold AS (
       |  SELECT * FROM sh WHERE s IN (
       |    SELECT s FROM sh GROUP BY s HAVING count(*) <= $HotShingleCap)
       |), common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM common JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
       |  WHERE $j >= 0.6 OR greatest($ca, $cb) >= 0.8
       |), edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |), reach(node, r) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
       |), clusters AS (
       |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
       |), jm AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars
       |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
       |), rr AS (
       |  SELECT cluster_id, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM jm
       |)
       |SELECT cluster_id, doc_id AS kept_doc,
       |       CAST(n_chars AS BIGINT) AS kept_chars,
       |       CAST(n_members AS BIGINT) AS n_members
       |FROM rr
       |WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin
  }

  // ------------------------------------------- incremental (delta-vs-base)

  /** Hot-bucket cap on the BASE side of the incremental join: a band
    * bucket holding >100 base docs is boilerplate-grade content already
    * collapsed by exact/minhash dedup; joining deltas into it would be
    * the one quadratic edge of the incremental path.
    */
  private val IncrBucketCap = 100

  /** Incremental dedup — the production ingest shape none of the
    * full-corpus queries exercise: a NEW batch (delta = doc_id%10 >= 8,
    * a deterministic 20% stand-in for today's crawl) is deduped AGAINST
    * the existing corpus (base = the other 80%), not against itself.
    * Delta band rows probe the base's banded minhash index; candidates
    * are signature-verified (est Jaccard >= 0.5) and each delta doc
    * gets a keep/drop verdict with its best base match (highest est,
    * ties to the smaller base id).
    *
    * The base's signatures+bands ARE a stored table here
    * ([[MinhashTier]], built once per source, exactly like the
    * snapshot side of merge_upsert), so per-batch cost is ∝ delta
    * size: only delta sigs are computed fresh, the band join is
    * delta-bands × matching base buckets (capped at
    * [[IncrBucketCap]]), and nothing ever re-scans the base text.
    * Reference analog: the reference recomputes full-corpus stats per
    * run (spark_analysis.py:42–143); incremental arrival is the 100 TB
    * re-expression of that daily batch.
    */
  /** Capped band-bucket posting lists of a band frame — the bidx
    * CONTENT, one kernel shared by the base index, the appended
    * segments and the merge-vs-rebuild spec pin. Since round 15 a hot
    * bucket (> [[IncrBucketCap]] docs) keeps a PRESENCE row with an
    * EMPTY list instead of vanishing (the substrPostings convention):
    * probes explode base_docs, so an empty list contributes no
    * candidates and every probe result is unchanged — but presence is
    * what makes the representation CLOSED under merge. Without it,
    * "bucket absent" is ambiguous between "no docs" and "hot, dropped",
    * and folding stored segments could resurrect a bucket the global
    * build would cap (the closure argument of StoredIndex.capped).
    */
  private[graft] def minhashBidxOf(bands: DataFrame): DataFrame =
    bands
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(
        col("band"), col("bh"),
        when(size(col("ds")) <= IncrBucketCap, col("ds"))
          .otherwise(array().cast("array<bigint>")).as("base_docs"))

  /** The stored minhash index for [[dedupIncremental]] and its LSM
    * lifecycle: signatures bucketed by doc_id (the verify join) and
    * capped band buckets bucketed by (band, bh) (the candidate join),
    * so every delta probe exchanges only the delta, never the
    * corpus-sized index. The "existing corpus" side really IS a
    * materialized table, so a repeated ingest pays only the delta —
    * delta signing + index probe, never a base re-sign — and a landed
    * batch is signed once into its own segment (the substring tier's
    * lifecycle, on the production ingest index). Compaction unions the
    * signatures and folds the buckets with the capped merge at
    * [[IncrBucketCap]]. Base v=2 = bucketed, v=3 = hot buckets keep
    * presence rows (see minhashBidxOf).
    */
  private[graft] val MinhashTier = StoredIndex.Tier(
    "minhash", s"k=$MinhashK;cap=$IncrBucketCap",
    "dedup-base" -> 3, "minhash-seg" -> 1, "minhash-compact" -> 1,
    Seq(
      StoredIndex.Table(
        "sigs", Seq("doc_id"), "doc_id BIGINT, sig ARRAY<BIGINT>", StoredIndex.union),
      StoredIndex.Table(
        "bidx", Seq("band", "bh"), "band INT, bh STRING, base_docs ARRAY<BIGINT>",
        StoredIndex.capped(Seq("band", "bh"), IncrBucketCap))),
    docs => {
      val (sigs, bands) = minhashBandsOf(docs, MinhashK)
      Seq(sigs, minhashBidxOf(bands))
    })

  private def sigsAndBidx(ts: Seq[DataFrame]): (DataFrame, DataFrame) = (ts(0), ts(1))

  /** Previous invocation's persisted delta signatures: the persist is
    * only useful while that query's plan executes (deltaBands + the est
    * join both read it), but unpersisting can't be scheduled "after the
    * caller's action" from inside a builder — so the handle is dropped
    * on the NEXT call, bounding a long library session to one cached
    * frame instead of one per invocation. Harness paths (Bench, Verify)
    * release eagerly between queries via QueryState.release.
    */
  private val lastDeltaSigs =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Max delta rows for the FORCED shuffled-hash build across the
    * probe joins against the stored minhash index over `dir`: Spark's
    * shuffled-hash build has no spill fallback, so the hint is safe only
    * while the per-task hash map (≈1 KiB per sig row: 64 longs + keys +
    * map overhead) stays inside a task's execution-memory share — 2^18
    * rows/bucket ≈ 256 MiB/task across the index's actual bucket count
    * ([[StoredIndex.buckets]]; the delta is exchanged to that width).
    * Above it the hint is DROPPED and the planner's SMJ (spillable)
    * takes over: slower, never OOM.
    */
  private def shuffleHashDeltaRowsMax(spark: SparkSession, dir: String): Long =
    (1L << 18) * StoredIndex.buckets(spark, dir)

  /** The two bucketed base tables (sigs, bidx) of the incremental
    * index. A caller probing SEVERAL batches against the same base (the
    * streaming ingest) reads — and optionally persists — them once
    * instead of per micro-batch.
    */
  private[graft] def incrementalBaseTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    sigsAndBidx(StoredIndex.tables(spark, dir, MinhashTier, StoredIndex.Base))

  /** Sign `delta` docs (doc_id, text) and probe the stored base index
    * tables `base` (sigs, bidx): one verdict row per delta doc, schema (doc_id, n_dups,
    * dup_of, est, keep), unordered. Verdicts are PER-DELTA-ROW
    * independent — any partition of the delta into batches unions to
    * the identical table — which is what lets the streaming ingest path
    * (stream_dedup_ingest) drive this same probe per micro-batch and
    * share dedup_incremental's oracle. Returns the verdict frame and
    * the PERSISTED delta-signature frame; the caller owns the
    * unpersist.
    *
    * `deltaIsSmall` = the caller guarantees a bounded micro-batch
    * (streaming ingest): the delta side gets broadcast hints so the
    * per-batch probe never shuffles the stored index — at scale the
    * index is corpus-sized and the batch is not. The batch query's
    * delta is corpus-proportional, so it must NOT set this; it sets
    * `shuffleHashDelta` from [[shuffleHashDeltaRowsMax]] instead (false
    * drops the forced shuffled-hash build).
    */
  private[graft] def incrementalProbe(
      spark: SparkSession, base: (DataFrame, DataFrame), delta: DataFrame,
      deltaIsSmall: Boolean = false, shuffleHashDelta: Boolean = true)
      : (DataFrame, DataFrame) = {
    val k = MinhashK
    // bounded micro-batch (streaming): broadcast the delta so the probe
    // is exchange-free everywhere; corpus-proportional batch: SHUFFLE_HASH
    // with the delta as build side — the bucketed index scans are
    // already hash-clustered on their probe keys, so only the delta
    // exchanges and the corpus-sized index streams unsorted. The hint
    // is size-gated by the caller (see [[shuffleHashDeltaRowsMax]]).
    def hinted(df: DataFrame): DataFrame =
      if (deltaIsSmall) broadcast(df)
      else if (!shuffleHashDelta) df
      else df.hint("SHUFFLE_HASH")
    val (baseSigs, baseIdx) = base
    // only the DELTA is signed at probe time — the base comes from the
    // stored index, so this pass costs ∝ today's batch, not the corpus
    val (deltaSigs, deltaBands) = minhashBandsOf(delta, k, persistSigs = !deltaIsSmall)
    // NOT deduped: a (delta, base) pair sharing several bands appears
    // once per shared band — the duplicate rows cost a few extra in-row
    // signature compares but save a whole dedup shuffle; the aggregate
    // below counts DISTINCT base_ids, so verdicts are unaffected
    val cand = hinted(deltaBands)
      .join(baseIdx, Seq("band", "bh"))
      .select(col("doc_id").as("delta_id"), explode(col("base_docs")).as("base_id"))
    // the sig-verify join is NOT hash-hinted on the candidate side: its
    // left input is the CANDIDATE EXPANSION (delta docs × matching
    // bucket members — on a duplicate-heavy batch this is far larger
    // than the delta, carrying a 64-long signature per row), and a
    // forced shuffled-hash build of it has no spill fallback — measured
    // at ×100 copymark: "Can't acquire 128 MiB to build hash relation"
    // OOM, three reps out of three. Unhinted, the planner's SMJ sorts
    // only the candidate side (spillable) while the bucketed-SORTED
    // sigs scan stays exchange-free AND sort-free; the inner deltaSigs
    // build stays hinted — that side really is delta-bounded.
    val estLeft = cand
      .join(hinted(deltaSigs.select(col("doc_id").as("delta_id"), col("sig").as("sig_a"))), "delta_id")
    val est = (if (deltaIsSmall) broadcast(estLeft) else estLeft)
      .join(baseSigs.select(col("doc_id").as("base_id"), col("sig").as("sig_b")), "base_id")
      .select(
        col("delta_id"),
        col("base_id"),
        Det.detRound(
          expr(s"graft_sig_matches(sig_a, sig_b) / CAST($k AS DOUBLE)"),
          6).as("est"))
      .filter(col("est") >= 0.5)
    // best match + match count per delta doc in ONE aggregation (the
    // old per-key window pair cost two extra shuffles per micro-batch):
    // min of struct(-est, base_id) IS "highest est, ties to the
    // smallest base_id", and countDistinct collapses the band-duplicate
    // candidate rows
    val best = est
      .groupBy(col("delta_id"))
      .agg(
        countDistinct(col("base_id")).as("n_dups"),
        min(struct((-col("est")).as("neg_est"), col("base_id").as("base_id"))).as("m"))
      .select(
        col("delta_id"),
        col("m.base_id").as("base_id"),
        (-col("m.neg_est")).as("est"),
        col("n_dups"))
    val verdicts = delta
      .select(col("doc_id"))
      .join(best.withColumnRenamed("delta_id", "doc_id"), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("base_id").as("dup_of"),
        col("est"),
        col("base_id").isNull.as("keep"))
    (verdicts, deltaSigs)
  }

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val base = incrementalBaseTables(spark, dir)
    // the 20% split of the cached corpus count — a job-free estimate
    // for the shuffled-hash size gate
    val est = Tables.cachedCount(spark, dir, "documents") / 5
    val (verdicts, deltaSigs) = incrementalProbe(
      spark, base, StoredIndex.deltaDocs(Tables.documents(spark, dir)),
      shuffleHashDelta = est <= shuffleHashDeltaRowsMax(spark, dir))
    // atomic swap: guarantees no double-unpersist and no lost handle.
    // It does NOT serialize concurrent callers — caller B's swap may
    // unpersist the frame caller A's still-running plan references, in
    // which case Spark silently recomputes A's signatures (a perf
    // hiccup, never a correctness one); ref-counting isn't worth that
    // rare cost. Harness paths release eagerly via QueryState anyway.
    val prev = lastDeltaSigs.getAndSet(deltaSigs)
    if (prev != null && (prev ne deltaSigs)) prev.unpersist(blocking = false)
    verdicts.orderBy(col("doc_id"))
  }

  private[graft] val dedupIncrementalSql = {
    val est = estJaccardSql(MinhashK)
    s"""WITH ${minhashSqlPrefix(MinhashK)},
       |bidx AS (
       |  SELECT band, bh, list_sort(list(doc_id)) AS base_docs
       |  FROM bands WHERE doc_id % 10 < 8
       |  GROUP BY band, bh
       |  HAVING count(*) <= $IncrBucketCap
       |), cand AS (
       |  SELECT DISTINCT db.doc_id AS delta_id, b.x AS base_id
       |  FROM bands db
       |  JOIN bidx USING (band, bh), unnest(bidx.base_docs) AS b(x)
       |  WHERE db.doc_id % 10 >= 8
       |), e AS (
       |  SELECT c.delta_id, c.base_id, ${Det.roundSql(est, 6)} AS est
       |  FROM cand c
       |  JOIN sigs sa ON c.delta_id = sa.doc_id
       |  JOIN sigs sb ON c.base_id = sb.doc_id
       |  WHERE ${Det.roundSql(est, 6)} >= 0.5
       |), best AS (
       |  SELECT delta_id, base_id, est,
       |         row_number() OVER (PARTITION BY delta_id ORDER BY est DESC, base_id) AS rn,
       |         count(*) OVER (PARTITION BY delta_id) AS n
       |  FROM e
       |)
       |SELECT d.doc_id,
       |       COALESCE(b.n, 0) AS n_dups,
       |       b.base_id AS dup_of,
       |       b.est,
       |       b.base_id IS NULL AS keep
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
       |LEFT JOIN best b ON d.doc_id = b.delta_id AND b.rn = 1
       |ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------- minhash index LSM lifecycle

  /** Probe across base + appended minhash segments — the read path that
    * makes index APPEND real for the production ingest tier: batch 2
    * (`doc_id % 10 == 9`) dedupes against both the original base
    * (`% 10 < 8`) and the previously-ingested batch 1 (`% 10 == 8`,
    * stored as its own bucketed segment of [[MinhashTier]]). Without
    * segments, consecutive batches never see each other until a full
    * corpus re-sign — the staleness hole [[dedupIncremental]] carries
    * and StoredIndexSpec's planted cross-batch twin proves
    * matters. `dup_tier` names where the best match lives
    * ("base" / "seg1").
    *
    * Scale shape: each tier is probed by its own candidate + verify
    * joins with the delta as SHUFFLE_HASH build side (both stored
    * tables stream hash-clustered with no Exchange — plan-asserted);
    * per-tier match streams union BEFORE the per-delta-doc aggregation.
    * Probe cost ∝ delta × segments; the segment count is bounded by
    * compaction ([[dedupMinhashIndexCompact]]) — the LSM
    * read/maintenance split, identical to the substring tier's.
    */
  def dedupMinhashIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val delta = StoredIndex.batchDocs(Tables.documents(spark, dir))
    val segs = StoredIndex.probeLevels(spark, dir, MinhashTier)
      .map { case (l, ts) => l -> sigsAndBidx(ts) }
    val (verdicts, deltaSigs) = dedupMinhashIndexAppendOf(
      spark, delta, segs,
      shuffleHashDelta =
        Tables.cachedCount(spark, dir, "documents") / 10 <= shuffleHashDeltaRowsMax(spark, dir))
    val prev = lastDeltaSigs.getAndSet(deltaSigs)
    if (prev != null && (prev ne deltaSigs)) prev.unpersist(blocking = false)
    verdicts.orderBy(col("doc_id"))
  }

  /** The multi-segment probe kernel, factored for planted-fixture specs
    * and the streaming runner. Segment doc sets must be disjoint (the
    * LSM invariant: a doc lands in exactly one segment), so a match_id
    * resolves to exactly one tier and the min-struct tie-break never
    * reaches the tier field. Returns (verdicts, persisted delta sigs) —
    * the caller owns the unpersist (the [[incrementalProbe]] contract).
    */
  private[graft] def dedupMinhashIndexAppendOf(
      spark: SparkSession, delta: DataFrame,
      segs: Seq[(String, (DataFrame, DataFrame))],
      deltaIsSmall: Boolean = false, shuffleHashDelta: Boolean = true)
      : (DataFrame, DataFrame) = {
    val k = MinhashK
    // same size-gated build-side discipline as incrementalProbe
    def hinted(df: DataFrame): DataFrame =
      if (deltaIsSmall) broadcast(df)
      else if (!shuffleHashDelta) df
      else df.hint("SHUFFLE_HASH")
    val (deltaSigs, deltaBands) =
      minhashBandsOf(delta, k, persistSigs = !deltaIsSmall)
    // one candidate + one verify join per tier, each exchange-free on
    // the stored side; candidates are NOT pair-deduped (the
    // incrementalProbe trade: duplicate rows per shared band cost a few
    // in-row compares, countDistinct below keeps verdicts exact)
    val ests = segs.map { case (tier, (sigs, bidx)) =>
      val cand = hinted(deltaBands)
        .join(bidx, Seq("band", "bh"))
        .select(
          col("doc_id").as("delta_id"),
          explode(col("base_docs")).as("match_id"))
      // candidate-expansion side NOT hash-hinted (no spill fallback in
      // shuffled-hash builds; ×100 copymark OOM'd) — see
      // incrementalProbe; the bucketed-sorted sigs scan keeps the
      // index side exchange- and sort-free under the planner's SMJ
      val estLeft = cand
        .join(
          hinted(deltaSigs
            .select(col("doc_id").as("delta_id"), col("sig").as("sig_a"))),
          "delta_id")
      (if (deltaIsSmall) broadcast(estLeft) else estLeft)
        .join(
          sigs.select(col("doc_id").as("match_id"), col("sig").as("sig_b")),
          "match_id")
        .select(
          col("delta_id"), col("match_id"), lit(tier).as("tier"),
          Det.detRound(
            expr(s"graft_sig_matches(sig_a, sig_b) / CAST($k AS DOUBLE)"),
            6).as("est"))
        .filter(col("est") >= 0.5)
    }.reduce(_ unionByName _)
    val best = ests
      .groupBy(col("delta_id"))
      .agg(
        countDistinct(col("match_id")).as("n_dups"),
        min(struct(
          (-col("est")).as("neg_est"),
          col("match_id").as("mid"),
          col("tier").as("tier"))).as("m"))
      .select(
        col("delta_id").as("doc_id"),
        col("n_dups"),
        col("m.mid").as("dup_of"),
        col("m.tier").as("dup_tier"),
        (-col("m.neg_est")).as("est"))
    val verdicts = delta
      .select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of"),
        col("dup_tier"),
        col("est"),
        col("dup_of").isNull.as("keep"))
    (verdicts, deltaSigs)
  }

  private val dedupMinhashIndexAppendSql = {
    val est = estJaccardSql(MinhashK)
    s"""WITH ${minhashSqlPrefix(MinhashK)},
       |bidx0 AS (
       |  SELECT band, bh, list_sort(list(doc_id)) AS base_docs
       |  FROM bands WHERE doc_id % 10 < 8
       |  GROUP BY band, bh
       |  HAVING count(*) <= $IncrBucketCap
       |), bidx1 AS (
       |  -- the appended batch-1 segment, capped independently
       |  SELECT band, bh, list_sort(list(doc_id)) AS base_docs
       |  FROM bands WHERE doc_id % 10 = 8
       |  GROUP BY band, bh
       |  HAVING count(*) <= $IncrBucketCap
       |), cand AS (
       |  SELECT DISTINCT db.doc_id AS delta_id, b.x AS match_id, 'base' AS tier
       |  FROM bands db
       |  JOIN bidx0 USING (band, bh), unnest(bidx0.base_docs) AS b(x)
       |  WHERE db.doc_id % 10 = 9
       |  UNION
       |  SELECT DISTINCT db.doc_id, b.x, 'seg1'
       |  FROM bands db
       |  JOIN bidx1 USING (band, bh), unnest(bidx1.base_docs) AS b(x)
       |  WHERE db.doc_id % 10 = 9
       |), e AS (
       |  SELECT c.delta_id, c.match_id, c.tier, ${Det.roundSql(est, 6)} AS est
       |  FROM cand c
       |  JOIN sigs sa ON c.delta_id = sa.doc_id
       |  JOIN sigs sb ON c.match_id = sb.doc_id
       |  WHERE ${Det.roundSql(est, 6)} >= 0.5
       |), best AS (
       |  SELECT delta_id, match_id, tier, est,
       |         row_number() OVER (PARTITION BY delta_id ORDER BY est DESC, match_id) AS rn,
       |         count(*) OVER (PARTITION BY delta_id) AS n
       |  FROM e
       |)
       |SELECT d.doc_id,
       |       COALESCE(b.n, 0) AS n_dups,
       |       b.match_id AS dup_of,
       |       b.tier AS dup_tier,
       |       b.est,
       |       b.match_id IS NULL AS keep
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
       |LEFT JOIN best b ON d.doc_id = b.delta_id AND b.rn = 1
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB twin of the minhash row of Cdc.indexMaintenancePlan — a
    * SELECT over the shared minhash CTE prefix (the caller composes the
    * WITH).
    */
  private[operators] val minhashMaintenanceRowSql =
    s"""SELECT 'minhash' AS tier,
       |       CAST(count(*) FILTER (WHERE dfb > 0) AS BIGINT) AS base_keys,
       |       CAST(count(*) FILTER (WHERE dfs > 0) AS BIGINT) AS seg_keys,
       |       CAST(COALESCE(SUM(CASE WHEN dfb BETWEEN 1 AND $IncrBucketCap
       |                               AND dfs BETWEEN 1 AND $IncrBucketCap
       |                               AND dfb + dfs > $IncrBucketCap
       |                              THEN 1 ELSE 0 END), 0) AS BIGINT)
       |         AS n_crossers
       |FROM (
       |  SELECT band, bh,
       |         count(*) FILTER (WHERE doc_id % 10 < 8) AS dfb,
       |         count(*) FILTER (WHERE doc_id % 10 = 8) AS dfs
       |  FROM bands WHERE doc_id % 10 < 9
       |  GROUP BY band, bh
       |)""".stripMargin

  /** Compact the minhash base index + the batch-1 segment into one
    * globally capped index (stored bucketed, build-once, written with
    * ZERO shuffles — see [[StoredIndex]]) and report what the
    * merge changed: per resulting bucket tier (hot / unique / cold by
    * the MERGED size), the bucket count, surviving posting entries,
    * buckets present in both inputs, and the CAP CROSSERS — buckets
    * under the cap in every segment individually but hot once merged.
    * Crossers are the candidates a segmented probe still expands that
    * the compacted index drops as near-identical boilerplate: the LSM
    * trade made visible, and a number the maintenance advisory
    * (index_maintenance_plan) consumes to decide when to compact.
    * StoredIndexSpec pins the stored compacted layout to be
    * row-identical to a from-scratch build over base ∪ batch-1 docs.
    */
  def dedupMinhashIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    StoredIndex.cappedCompaction(spark, dir, MinhashTier, "hot", "n_buckets")
  }

  private val dedupMinhashIndexCompactSql =
    s"""WITH ${minhashSqlPrefix(MinhashK)},
       |d AS (
       |  SELECT band, bh,
       |         count(*) FILTER (WHERE doc_id % 10 < 8) AS dfb,
       |         count(*) FILTER (WHERE doc_id % 10 = 8) AS dfs
       |  FROM bands WHERE doc_id % 10 < 9
       |  GROUP BY band, bh
       |), m AS (
       |  -- merged representation: entries = total bucket size when
       |  -- <= cap, 0 (presence only) when hot in ANY input or merged
       |  SELECT band, bh, dfb, dfs,
       |         CASE WHEN dfb + dfs > $IncrBucketCap THEN 0
       |              ELSE dfb + dfs END AS entries
       |  FROM d
       |)
       |SELECT CASE WHEN entries = 0 THEN 'hot'
       |            WHEN entries = 1 THEN 'unique'
       |            ELSE 'cold' END AS tier,
       |       count(*) AS n_buckets,
       |       CAST(SUM(entries) AS BIGINT) AS n_entries,
       |       CAST(SUM(CASE WHEN dfb > 0 AND dfs > 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_in_both,
       |       CAST(SUM(CASE WHEN dfb BETWEEN 1 AND $IncrBucketCap
       |                      AND dfs BETWEEN 1 AND $IncrBucketCap
       |                      AND dfb + dfs > $IncrBucketCap
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cap_crossers
       |FROM m
       |GROUP BY 1
       |ORDER BY tier""".stripMargin

  // ----------------------------------------- cross-tier pipeline report

  /** Dedup-tier capstone: the morning-report composition a 100 TB
    * curation run reads — per detector tier, what it flags and how the
    * tiers overlap — computed ENTIRELY from the STORED dedup artifacts
    * (exact-Jaccard CC labels, minhash-LSH CC labels, the substring
    * posting index, the CDC chunk store). No corpus text is re-scanned
    * and no detector re-runs: after the one-time builds, every input is
    * an index-/label-sized table, which is the whole point — the
    * per-tier queries already exist, but a pipeline owner needs the
    * cross-tier view at artifact cost, not detector cost.
    *
    * Scope is the shared base corpus (`doc_id % 10 < 8` — the slice all
    * four stored artifacts cover). Per tier:
    *   - `docs_flagged`: docs the tier marks removable (cluster tiers:
    *     non-keeper members, node ≠ min-id label; substring: docs
    *     carrying a duplicated cold window; CDC: NULL — chunks carry no
    *     doc identity in a content-addressed store);
    *   - `units_removed` / `unit`: docs for the cluster tiers, Σ(df−1)
    *     removable window occurrences for substring (doc-presence
    *     grain), duplicate bytes (Σ(n_occ−1)·len) for CDC;
    *   - `overlap_upstream` / `net_new_docs`: how much of the tier's
    *     flag set an EARLIER tier (pipeline order exact_jaccard →
    *     minhash → substring) already caught — the marginal value of
    *     running each additional tier.
    */
  def dedupPipelineReport(spark: SparkSession, dir: String): DataFrame = {
    val baseDoc = col("node") % 10 < 8 && col("node") =!= col("label")
    val exactFlagged = exactCcLabels(spark, dir)
      .filter(baseDoc).select(col("node").as("doc_id"))
    val mhFlagged = minhashCcLabels(spark, dir)
      .filter(baseDoc).select(col("node").as("doc_id"))
    val postings = Cdc.substrIndex(spark, dir)
    val subFlagged = postings
      .filter(size(col("base_docs")) >= 2)
      .select(explode(col("base_docs")).as("doc_id"))
      .distinct()
    val store = StoredIndex.tables(spark, dir, Cdc.CdcTier, StoredIndex.Base).head

    def row(
        tier: String, flagged: DataFrame, upstream: Option[DataFrame])
        : DataFrame = {
      val joined = upstream match {
        case Some(up) =>
          flagged.join(
            up.distinct().withColumn("up", lit(1L)), Seq("doc_id"), "left")
        case None => flagged.withColumn("up", lit(null).cast("long"))
      }
      joined.agg(
          count(lit(1)).as("docs_flagged"),
          sum(coalesce(col("up"), lit(0L))).as("ov"))
        .select(
          lit(tier).as("tier"),
          col("docs_flagged"),
          col("docs_flagged").as("units_removed"),
          lit("docs").as("unit"),
          (if (upstream.isDefined) coalesce(col("ov"), lit(0L))
           else lit(null).cast("long")).as("overlap_upstream"),
          (if (upstream.isDefined)
             col("docs_flagged") - coalesce(col("ov"), lit(0L))
           else lit(null).cast("long")).as("net_new_docs"))
    }

    val exactRow = row("exact_jaccard", exactFlagged, None)
      // the first tier has no upstream: overlap 0, net = all
      .select(
        col("tier"), col("docs_flagged"), col("units_removed"), col("unit"),
        lit(0L).as("overlap_upstream"),
        col("docs_flagged").as("net_new_docs"))
    val mhRow = row("minhash", mhFlagged, Some(exactFlagged))
    val subRow = {
      val units = postings
        .filter(size(col("base_docs")) >= 2)
        .agg(coalesce(
          sum(size(col("base_docs")).cast("long") - 1L), lit(0L)).as("u"))
      row("substring", subFlagged, Some(exactFlagged.unionByName(mhFlagged)))
        .crossJoin(units)
        .select(
          col("tier"), col("docs_flagged"),
          col("u").as("units_removed"),
          lit("windows").as("unit"),
          col("overlap_upstream"), col("net_new_docs"))
    }
    val cdcRow = store
      .agg(coalesce(
        sum((col("n_occ") - 1L) * col("chunk_len")), lit(0L)).as("u"))
      .select(
        lit("cdc").as("tier"),
        lit(null).cast("long").as("docs_flagged"),
        col("u").as("units_removed"),
        lit("bytes").as("unit"),
        lit(null).cast("long").as("overlap_upstream"),
        lit(null).cast("long").as("net_new_docs"))
    exactRow.unionByName(mhRow).unionByName(subRow).unionByName(cdcRow)
      .orderBy(col("tier"))
  }

  private val dedupPipelineReportSql =
    s"""WITH ecl AS (
       |  SELECT * FROM (
       |${dedupClustersSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |), mcl AS (
       |  SELECT * FROM (
       |${dedupClustersMinhashSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |), ef AS (
       |  SELECT doc_id FROM ecl WHERE doc_id % 10 < 8 AND doc_id != cluster_id
       |), mf AS (
       |  SELECT doc_id FROM mcl WHERE doc_id % 10 < 8 AND doc_id != cluster_id
       |), tt AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE doc_id % 10 < 8
       |), win AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${Cdc.SubstrW - 1}], ' ') AS s
       |  FROM tt, LATERAL (SELECT unnest(generate_series(1, len(w) - ${Cdc.SubstrW - 1})) AS i)
       |  WHERE len(w) >= ${Cdc.SubstrW}
       |), wd AS (
       |  SELECT s, count(*) AS df FROM win GROUP BY s
       |), sf AS (
       |  SELECT DISTINCT w.doc_id FROM win w
       |  JOIN wd ON w.s = wd.s
       |  WHERE wd.df BETWEEN 2 AND ${Cdc.SubstrDfCap}
       |), ct AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE doc_id % 10 < 8
       |), ccut AS (
       |  SELECT doc_id, w,
       |         CASE WHEN len(w) >= 2
       |              THEN list_filter(generate_series(2, len(w)),
       |                               i -> substr(md5(w[i-1] || ' ' || w[i]), 1, 1) = '0')
       |              ELSE [] END AS cuts
       |  FROM ct
       |), ccs AS (
       |  SELECT doc_id, w, list_concat(list_concat([0], cuts), [len(w)]) AS cs FROM ccut
       |), cseg AS (
       |  SELECT doc_id, w,
       |         unnest(list_filter(
       |           list_transform(generate_series(1, len(cs) - 1),
       |                          j -> {'s': cs[j], 'e': cs[j+1]}),
       |           p -> p.e > p.s)) AS p
       |  FROM ccs
       |), cch AS (
       |  SELECT md5(array_to_string(w[(p.s + 1):(p.e)], ' ')) AS chunk_md5,
       |         CAST(length(array_to_string(w[(p.s + 1):(p.e)], ' ')) AS BIGINT) AS chunk_len
       |  FROM cseg
       |), cg AS (
       |  SELECT chunk_md5, count(*) AS n, max(chunk_len) AS clen
       |  FROM cch GROUP BY 1
       |)
       |SELECT 'cdc' AS tier,
       |       CAST(NULL AS BIGINT) AS docs_flagged,
       |       CAST(COALESCE((SELECT SUM((n - 1) * clen) FROM cg), 0) AS BIGINT)
       |         AS units_removed,
       |       'bytes' AS unit,
       |       CAST(NULL AS BIGINT) AS overlap_upstream,
       |       CAST(NULL AS BIGINT) AS net_new_docs
       |UNION ALL
       |SELECT 'exact_jaccard',
       |       (SELECT count(*) FROM ef),
       |       (SELECT count(*) FROM ef),
       |       'docs',
       |       0,
       |       (SELECT count(*) FROM ef)
       |UNION ALL
       |SELECT 'minhash',
       |       (SELECT count(*) FROM mf),
       |       (SELECT count(*) FROM mf),
       |       'docs',
       |       (SELECT count(*) FROM mf WHERE doc_id IN (SELECT doc_id FROM ef)),
       |       (SELECT count(*) FROM mf WHERE doc_id NOT IN (SELECT doc_id FROM ef))
       |UNION ALL
       |SELECT 'substring',
       |       (SELECT count(*) FROM sf),
       |       CAST(COALESCE((SELECT SUM(df - 1) FROM wd
       |                      WHERE df BETWEEN 2 AND ${Cdc.SubstrDfCap}), 0) AS BIGINT),
       |       'windows',
       |       (SELECT count(*) FROM sf
       |        WHERE doc_id IN (SELECT doc_id FROM ef UNION SELECT doc_id FROM mf)),
       |       (SELECT count(*) FROM sf
       |        WHERE doc_id NOT IN (SELECT doc_id FROM ef UNION SELECT doc_id FROM mf))
       |ORDER BY tier""".stripMargin

  /** Duplicate-cluster size histogram over the BOUNDED minhash-LSH
    * cluster path (the 100 TB form): per cluster size, how many
    * clusters, how many docs they hold, and how many docs dedup would
    * remove (size−1 each) — the savings distribution that tells you
    * whether duplication is a long tail of pairs or a few mega-clusters
    * (which need the keep-best pass to pick canonicals carefully).
    * Histogram grain is cluster-size-bounded; everything after the CC
    * labels is two tiny aggregates.
    */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    dedupClustersMinhash(spark, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(
        col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))
      .orderBy(col("cluster_size"))
  }

  private val dedupClusterSizesSql =
    s"""WITH assign AS (
       |  SELECT * FROM (
       |${dedupClustersMinhashSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |), sizes AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM assign GROUP BY cluster_id
       |), hist AS (
       |  SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size
       |)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |       CAST(n_clusters AS BIGINT) AS n_clusters,
       |       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
       |       CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removable
       |FROM hist
       |ORDER BY cluster_size""".stripMargin

  /** Band configurations the sweep prices: (bands, rows-per-band) splits
    * of the same k=64 signature. Fewer rows per band = higher collision
    * probability = more candidates (the LSH S-curve steers left).
    */
  private val BandConfigs = Seq((8, 8), (16, 4), (32, 2))

  /** LSH band-configuration tuning curve — the banding axis next to
    * neardup_threshold_curve's threshold axis: for each (bands, rows)
    * split of the SAME k=64 minhash signatures, how many buckets blow
    * past the 100-doc cap (dropped hot buckets), how many candidate
    * pairs the buckets emit, and how many survive signature
    * verification at est ≥ 0.5. This is the measurement that prices a
    * banding choice before a 100 TB run commits to it: candidates scale
    * the shuffle, hot buckets measure cap loss, verified yield is what
    * you keep. Signatures are computed ONCE (the shared persisted
    * frame); each config is an in-row re-split plus a bucket aggregate.
    */
  def lshBandSweep(spark: SparkSession, dir: String): DataFrame =
    lshBandSweepGuarded(spark, dir, SweepDocCap)

  /** Corpus cap for the band sweep: the finest split (2 rows per band)
    * is near-quadratic on a heavily duplicated corpus — measured 172 s
    * with 124 GiB of spill at 100× docs (500k rows, 100 near-identical
    * copies each: every copy-group fills a bucket to exactly the
    * 100-doc cap, so each bucket emits C(100,2) pairs in MOST of its
    * bands before the distinct). Pricing does not need the full corpus:
    * above the cap the sweep runs on a deterministic 1/m doc_id-hash
    * sample (m chosen so the expected sample ≈ cap). Every config is
    * sampled identically and pair survival scales by the same 1/m² for
    * all three arms, so the RELATIVE comparison — the thing a tuning
    * curve is for — is preserved while candidate volume stays bounded;
    * bucket-size thresholds are stated in full-corpus units (size·m),
    * so the hot-bucket cap-loss signal survives the sampling instead
    * of collapsing to zero. Below the cap m = 1 and the semantics are
    * exactly the unguarded form (all test SFs; sf0.1 carries 5k docs).
    */
  private[graft] val SweepDocCap = 100000L

  /** Deterministic 1/m doc_id-hash sample for the above-cap sweep
    * routes (m chosen so the expected sample ≈ cap; m = 1 below it).
    * Shared by both tuning-curve guards so the sample predicate cannot
    * drift between them. Returns the frame and m, so callers can state
    * bucket-size thresholds in FULL-corpus units (a sampled bucket of
    * size s estimates a full bucket of size s·m).
    */
  private[operators] def sampleAboveCap(
      query: String, df: DataFrame, nDocs: Long, cap: Long): (DataFrame, Long) =
    if (nDocs > cap) {
      val m = (nDocs + cap - 1) / cap
      graft.Downgrades.record(query, s"1/$m doc-hash sample", nDocs, cap)
      (df.filter(pmod(xxhash64(col("doc_id")), lit(m)) === 0), m)
    } else (df, 1L)

  /** DerivedCache-stored exact-Jaccard anchor over the (possibly 1/m
    * doc-hash sampled) corpus. The anchor's inverted-index pass is the
    * dominant cost of every tuning/grading query that needs REAL exact
    * pairs (minhash_k_curve, dedup_pair_quality), and the pair set is
    * fully deterministic in (corpus stamp, m) — so it is built ONCE and
    * every consumer in any later JVM reads the stored pairs: the same
    * build-once/serve-many shape as the stored CC labels and the
    * persisted k-means model. `dedup_jaccard` the QUERY stays honest
    * compute (it is the thing the oracle checks); this cache serves only
    * the queries that GRADE against the anchor.
    */
  private def jaccardAnchorStored(
      spark: SparkSession, dir: String, docs: DataFrame, m: Long): DataFrame =
    graft.sources.DerivedCache.tables(dir, "jaccard-anchor", s"m=$m") {
      // unordered kernel: a parquet write needs no presentation sort,
      // and the RangePartitioning sampling pass would re-execute the
      // whole inverted-index subtree just to pick sort bounds
      _.table("pairs", dedupJaccardOfUnordered(docs))
    }.read(spark, "pairs")

  private[graft] def lshBandSweepGuarded(
      spark: SparkSession, dir: String, cap: Long): DataFrame = {
    val k = MinhashK
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    val (docs, m) =
      sampleAboveCap("lsh_band_sweep", Tables.documents(spark, dir), nDocs, cap)
    val (sigs, _) = // unsampled → the shared memoized sketch
      if (m == 1) minhashBands(spark, dir, k) else minhashBandsOf(docs, k)
    BandConfigs.map { case (nb, r) =>
      // per-config band-bucket index as a STORED table (the
      // minhash-sigs pattern): a banding sweep builds each candidate
      // config's index once and re-prices it across runs — the bucket
      // aggregation (band explode + corpus shuffle, ×3 configs) was
      // the dominant per-run cost. Keyed by (documents stamp, k, nb,
      // r, m); v=1 versions the banding layout.
      val buckets = graft.sources.DerivedCache.tables(
        s"$dir/documents.parquet", s"lsh-buckets-$nb",
        s"k=$k;r=$r;m=$m;v=1") {
        _.table("buckets", sigs.select(
          col("doc_id"),
          explode(expr(
            s"""transform(sequence(0, ${nb - 1}), b -> struct(b AS band,
               |  array_join(transform(slice(sig, b * $r + 1, $r), x -> CAST(x AS STRING)), ',') AS bh))""".stripMargin))
            .as("lsh"))
          .select(col("doc_id"), col("lsh.band"), col("lsh.bh"))
          .groupBy(col("band"), col("bh"))
          .agg(sort_array(collect_list(col("doc_id"))).as("docs")))
      }.read(spark, "buckets")
      // thresholds in FULL-corpus units (size·m, not the sampled size):
      // a 150-copy group sampled 1/5 lands at ~30 docs, which must still
      // read as cap loss, not as a healthy bucket — otherwise the
      // sampled sweep reports zero hot buckets exactly when cap loss is
      // severe. m = 1 below the cap, where this is the plain 100 cap.
      val hot = buckets
        .filter(size(col("docs")) * lit(m) > 100)
        .agg(count(lit(1)).as("n_hot_buckets"))
      val cand = buckets
        .filter(size(col("docs")) >= 2 && size(col("docs")) * lit(m) <= 100)
        .select(posexplode(col("docs")).as(Seq("i", "doc_a")), col("docs"))
        .select(col("doc_a"), explode(expr("slice(docs, i + 2, size(docs))")).as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      // candidate + verified counts ride ONE aggregate over the
      // sig-joined candidates: every candidate doc_id is in `sigs` by
      // construction (the stored buckets were built FROM these
      // signatures), so the inner joins preserve the candidate count
      // and count(*) is the old separate nCand — one fewer lazy
      // checkpoint, aggregate and crossJoin per banding config
      val nCV = cand
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .agg(
          count(lit(1)).as("n_candidates"),
          count(when(
            Det.detRound(
              expr(s"graft_sig_matches(sig_a, sig_b) / CAST($k AS DOUBLE)"),
              6) >= 0.5, 1)).as("n_verified"))
      hot.crossJoin(nCV)
        .select(
          lit(nb.toLong).as("n_bands"),
          lit(r.toLong).as("rows_per_band"),
          col("n_hot_buckets"), col("n_candidates"), col("n_verified"))
    }.reduce(_ unionAll _)
      .orderBy(col("n_bands"))
  }

  /** DuckDB twin of lshBandSweep: one sigs chain, three band re-splits
    * as chained CTEs, counted with the same cap and verify threshold.
    */
  private val lshBandSweepSql = {
    val est = estJaccardSql(MinhashK)
    def arm(nb: Int, r: Int) =
      s"""  SELECT CAST($nb AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS rows_per_band,
         |    (SELECT count(*) FROM bu_$nb WHERE len(docs) > 100) AS n_hot_buckets,
         |    (SELECT count(*) FROM cd_$nb) AS n_candidates,
         |    (SELECT count(*) FROM cd_$nb c
         |     JOIN sigs sa ON c.doc_a = sa.doc_id
         |     JOIN sigs sb ON c.doc_b = sb.doc_id
         |     WHERE ${Det.roundSql(est, 6)} >= 0.5) AS n_verified""".stripMargin
    def chain(nb: Int, r: Int) =
      s"""b_$nb AS (
         |  SELECT doc_id, band,
         |         array_to_string(list_slice(sig, band * $r + 1, band * $r + $r), ',') AS bh
         |  FROM sigs, (SELECT unnest(generate_series(0, ${nb - 1})) AS band)
         |), bu_$nb AS (
         |  SELECT band, bh, list_sort(list(doc_id)) AS docs
         |  FROM b_$nb GROUP BY band, bh
         |), cd_$nb AS (
         |  SELECT DISTINCT a.x AS doc_a, b.x AS doc_b
         |  FROM bu_$nb, unnest(docs) AS a(x), unnest(docs) AS b(x)
         |  WHERE len(docs) BETWEEN 2 AND 100 AND a.x < b.x
         |)""".stripMargin
    val prefix = minhashSqlPrefix(MinhashK)
    s"""WITH $prefix,
       |${BandConfigs.map { case (nb, r) => chain(nb, r) }.mkString(",\n")}
       |${BandConfigs.map { case (nb, r) => arm(nb, r) }.mkString("\nUNION ALL\n")}
       |ORDER BY n_bands""".stripMargin
  }

  /** Signature sizes the k-curve prices — PREFIXES of the shared k=64
    * signature (the md5-affine basis is identical for every k, so the
    * first k entries of a 64-hash signature ARE the k-hash signature).
    * One sketch build serves all three arms.
    */
  private val KCurve = Seq(16, 32, 64)

  /** MinHash signature-size tuning curve — the third axis of the
    * sketch-pricing family (threshold: neardup_threshold_curve, banding:
    * lsh_band_sweep, and now k): over the exact-Jaccard anchor's pair
    * set, the mean absolute error and signed bias of the k-hash Jaccard
    * estimate, and how many anchor pairs a verify threshold of est ≥ 0.5
    * would flag, for k = 16/32/64. This is what prices signature width
    * before a 100 TB run commits to it: k scales every downstream
    * shuffle byte-for-byte (sketch storage, band rows, verify joins),
    * and the curve shows what accuracy each halving buys back. est_k has
    * a power-of-two denominator so the estimate is binary-exact; error
    * terms are summed as DECIMAL (Det.fineSum) for cross-engine
    * determinism. Above KCurveDocCap the WHOLE measurement — signatures
    * and the exact anchor — runs on the same deterministic 1/m
    * doc-hash sample (Downgrade logged): the sample stays within
    * ExactDocCap so the anchor is the REAL exact Jaccard, not the
    * routed estimate, and error statistics on a uniform doc sample are
    * exactly what the curve exists to report. The budget is TIGHTER
    * than the band sweep's (20k vs 100k docs): the exact anchor's
    * common-count expansion is Σ_shingles C(df,2) — quadratic in the
    * per-shingle document frequency, with no bucket cap to lean on —
    * so on a duplicated corpus the sample must shrink df itself, not
    * just the corpus (measured at 100× docs: a 100k-doc sample still
    * ran the anchor 114 s with heavy spill; the 20k sample holds the
    * whole curve to seconds). One grading pass (anchor
    * joined to the persisted sigs frame on both endpoints, one
    * aggregate row) feeds all three arms — the per-k work is in-row
    * slices of the same match vector.
    */
  private[graft] val KCurveDocCap = 20000L

  def minhashKCurve(spark: SparkSession, dir: String): DataFrame =
    minhashKCurveGuarded(spark, dir, KCurveDocCap)

  private[graft] def minhashKCurveGuarded(
      spark: SparkSession, dir: String, cap: Long): DataFrame = {
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    val (docs, m) =
      sampleAboveCap("minhash_k_curve", Tables.documents(spark, dir), nDocs, cap)
    val (sigs, _) = // unsampled → the shared memoized sketch
      if (m == 1) minhashBands(spark, dir, MinhashK)
      else minhashBandsOf(docs, MinhashK)
    val anchor = jaccardAnchorStored(spark, dir, docs, m)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val g = anchor
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(
        col("jaccard"),
        expr("zip_with(sig_a, sig_b, (x, y) -> x = y)").as("m"))
    def est(kk: Int) =
      expr(s"size(filter(slice(m, 1, $kk), b -> b))").cast("double") / lit(kk.toDouble)
    val aggs = count(lit(1)).as("n_pairs") +: KCurve.flatMap { kk =>
      Seq(
        Det.fineSum(abs(est(kk) - col("jaccard"))).as(s"sae_$kk"),
        Det.fineSum(est(kk) - col("jaccard")).as(s"sse_$kk"),
        sum(when(est(kk) >= 0.5, 1L).otherwise(0L)).as(s"flag_$kk"))
    }
    g.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(KCurve.map { kk =>
        struct(
          lit(kk.toLong).as("k"),
          col("n_pairs"),
          when(col("n_pairs") === 0, lit(0.0))
            .otherwise(Det.detRound(col(s"sae_$kk") / col("n_pairs"), 6)).as("mae"),
          when(col("n_pairs") === 0, lit(0.0))
            .otherwise(Det.detRound(col(s"sse_$kk") / col("n_pairs"), 6)).as("bias"),
          coalesce(col(s"flag_$kk"), lit(0L)).as("n_flagged"))
      }: _*)).as("r"))
      .select(col("r.k"), col("r.n_pairs"), col("r.mae"), col("r.bias"), col("r.n_flagged"))
      .orderBy(col("k"))
  }

  /** DuckDB twin of minhashKCurve: the anchor nested as a subquery (its
    * own WITH chain is scoped), one sigs join, one aggregate row, three
    * arms unpivoted by UNION ALL.
    */
  private val minhashKCurveSql = {
    def estSql(kk: Int) =
      s"CAST(len(list_filter(generate_series(1, $kk), j -> sig_a[j] = sig_b[j])) AS DOUBLE) / $kk"
    val measures = KCurve.map { kk =>
      s"""    CAST(SUM(CAST(abs(${estSql(kk)} - jaccard) AS DECIMAL(30,10))) AS DOUBLE) AS sae_$kk,
         |    CAST(SUM(CAST(${estSql(kk)} - jaccard AS DECIMAL(30,10))) AS DOUBLE) AS sse_$kk,
         |    SUM(CASE WHEN ${estSql(kk)} >= 0.5 THEN 1 ELSE 0 END) AS flag_$kk""".stripMargin
    }.mkString(",\n")
    val arms = KCurve.map { kk =>
      s"""  SELECT CAST($kk AS BIGINT) AS k, n_pairs,
         |    CASE WHEN n_pairs = 0 THEN CAST(0 AS DOUBLE)
         |         ELSE ${Det.roundSql(s"sae_$kk / n_pairs", 6)} END AS mae,
         |    CASE WHEN n_pairs = 0 THEN CAST(0 AS DOUBLE)
         |         ELSE ${Det.roundSql(s"sse_$kk / n_pairs", 6)} END AS bias,
         |    CAST(COALESCE(flag_$kk, 0) AS BIGINT) AS n_flagged
         |  FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${minhashSqlPrefix(MinhashK)},
       |x AS (SELECT doc_a, doc_b, jaccard FROM ($dedupJaccardSql) jx),
       |g AS (
       |  SELECT x.jaccard, sa.sig AS sig_a, sb.sig AS sig_b
       |  FROM x JOIN sigs sa ON x.doc_a = sa.doc_id
       |         JOIN sigs sb ON x.doc_b = sb.doc_id
       |), a AS (
       |  SELECT count(*) AS n_pairs,
       |$measures
       |  FROM g
       |)
       |$arms
       |ORDER BY k""".stripMargin
  }

  /** Sketch-vs-exact pair grading: recall and agreement of the minhash
    * and simhash near-dup pair sets against the exact-Jaccard anchor —
    * the dedup twin of ann_recall (that query prices ANN settings; this
    * one prices LSH band/threshold settings before a 100 TB run trusts
    * them). recall = |sketch ∩ exact| / |exact|; agreement = |sketch ∩
    * exact| / |sketch| (not precision in the strict sense — the sketch
    * thresholds are deliberately looser than the exact τ=0.6, so
    * sketch-only pairs may still be true near-dups under their own
    * definition). Above PairQualityDocCap the WHOLE measurement —
    * exact anchor, minhash, simhash — runs on the shared deterministic
    * 1/m doc-hash sample (Downgrade logged): the grading stays REAL
    * (an actual exact anchor, not the routed estimate that would make
    * minhash recall 1.0 by construction), and pair counts stay bounded
    * on duplicated corpora where full-corpus pairs blow up ~m² — the
    * un-routed form thrashed an 8 GiB driver at 100× docs. Below the
    * cap (all test SFs) the plan is byte-identical to the unguarded
    * full-corpus form, which is what the oracle checks.
    */
  def dedupPairQuality(spark: SparkSession, dir: String): DataFrame =
    dedupPairQualityGuarded(spark, dir, PairQualityDocCap)

  /** Sampled-route cap: the exact anchor costs what minhash_k_curve's
    * does (same kernel, same sample helper), and its probe ledger
    * priced a 20k-doc sample at single-digit seconds with zero spill
    * at 100× docs — the two caps share the value deliberately.
    */
  private[graft] val PairQualityDocCap = 20000L

  private[graft] def dedupPairQualityGuarded(
      spark: SparkSession, dir: String, cap: Long): DataFrame = {
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    val (docs, m) =
      sampleAboveCap("dedup_pair_quality", Tables.documents(spark, dir), nDocs, cap)
    val (minhashPairs, simhashPairs) =
      if (m == 1) (dedupMinhash(spark, dir), dedupSimhash(spark, dir))
      else {
        val (sigs, bands) = minhashBandsOf(docs, MinhashK)
        (dedupMinhashOf(sigs, bands), dedupSimhashOf(docs))
      }
    // the exact anchor feeds three consumers (denominator + two
    // semi-joins) — the STORED anchor (build-once parquet) replaces the
    // former per-run inverted-index pass + checkpoint
    val exact = jaccardAnchorStored(spark, dir, docs, m)
      .select(col("doc_a"), col("doc_b"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    def grade(method: String, pairsIn: DataFrame): DataFrame = {
      val p = pairsIn.select(col("doc_a"), col("doc_b")).cutLineage(eager = false)
      // SHUFFLE_HASH pin, kept with the stored anchor: parquet stats
      // size the anchor correctly, but the LEFT side (p) is a
      // post-aggregate pair frame whose estimate undercounts a
      // duplicated corpus's pair blow-up — at 100× docs the planner
      // once broadcast ~25M pairs and OOM'd the driver. Both sides are
      // pair-grained; a shuffled hash join on (doc_a, doc_b) is the
      // right plan at every scale.
      // n_pairs and n_hit ride ONE aggregate over a single LEFT join
      // against the anchor (whose (doc_a, doc_b) keys are unique by
      // construction, so the join cannot fan out): count(*) is the old
      // separate count, count(__hit) the old semi-join count — one
      // fewer subtree + aggregate + crossJoin per graded method on a
      // plan-compile-bound query (driver jit 3.1 s).
      val nPH = p
        .join(
          exact.withColumn("__hit", lit(1)).hint("shuffle_hash"),
          Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_pairs"), count(col("__hit")).as("n_hit"))
      nPH
        .crossJoin(nExact)
        .select(
          lit(method).as("method"),
          col("n_pairs"),
          col("n_exact"),
          col("n_hit"),
          when(col("n_exact") === 0, lit(0.0))
            .otherwise(
              Det.detRound(col("n_hit").cast("double") / col("n_exact"), 6))
            .as("recall"),
          when(col("n_pairs") === 0, lit(0.0))
            .otherwise(
              Det.detRound(col("n_hit").cast("double") / col("n_pairs"), 6))
            .as("agreement"))
    }
    grade("minhash", minhashPairs)
      .unionAll(grade("simhash", simhashPairs))
      .orderBy(col("method"))
  }

  /** DuckDB twin of dedupPairQuality: the three pair queries nested as
    * CTE subqueries (each already oracle-exact on its own), intersected
    * and counted.
    */
  private val dedupPairQualitySql = {
    def r6(e: String) = Det.roundSql(e, 6)
    def grade(m: String, t: String) =
      s"""SELECT '$m' AS method,
         |       (SELECT count(*) FROM $t) AS n_pairs,
         |       (SELECT count(*) FROM x) AS n_exact,
         |       (SELECT count(*) FROM $t t JOIN x ON t.doc_a = x.doc_a AND t.doc_b = x.doc_b) AS n_hit""".stripMargin
    s"""WITH x AS (SELECT doc_a, doc_b FROM ($dedupJaccardSql) jx),
       |mh AS (SELECT doc_a, doc_b FROM ($dedupMinhashSql) mx),
       |sh2 AS (SELECT doc_a, doc_b FROM ($dedupSimhashSql) sx),
       |g AS (
       |${grade("minhash", "mh")}
       |UNION ALL
       |${grade("simhash", "sh2")}
       |)
       |SELECT method, n_pairs, n_exact, n_hit,
       |       CASE WHEN n_exact = 0 THEN CAST(0 AS DOUBLE)
       |            ELSE ${r6("CAST(n_hit AS DOUBLE) / n_exact")} END AS recall,
       |       CASE WHEN n_pairs = 0 THEN CAST(0 AS DOUBLE)
       |            ELSE ${r6("CAST(n_hit AS DOUBLE) / n_pairs")} END AS agreement
       |FROM g
       |ORDER BY method""".stripMargin
  }

  /** Per-pair detector agreement cube — dedup_pair_quality grades each
    * detector's PAIR SET against the exact anchor; this inspects the
    * same decision at pair granularity: for EVERY co-shingled pair
    * (the dedup_containment convention — no Jaccard floor, so sketch
    * false-positives on low-overlap pairs are visible, not filtered
    * away), would the exact pass (J ≥ 0.6), the deployed minhash rule
    * (an LSH band collides AND 64-perm estimate ≥ 0.5) and the deployed
    * simhash rule (Hamming ≤ 3) each flag it? The 8-cell
    * (v_exact, v_minhash, v_simhash) cube with per-cell means is the
    * evidence for WHERE the detectors disagree — (true, false, *) is
    * recall lost to sketching, (false, *, true) is sketch
    * false-positive mass, and each cell's mean_jaccard says whether
    * the errors are borderline or real.
    *
    * Verdict fidelity: the minhash verdict replays band-collision +
    * verify (≥ 32/64 matching positions does NOT imply a fully-equal
    * 4-slot band, so the band test is load-bearing); the simhash ≤ 3
    * cut needs no separate band test — ≤ 3 differing bits across four
    * 16-bit bands leaves at least one band identical by pigeonhole, so
    * the collision is implied. Bucket-size caps are not modeled: they
    * drop only degenerate hot buckets, and the oracle replays the same
    * uncapped rule.
    *
    * Scale: the pair universe is the same packed inverted-index kernel
    * as dedup_jaccard (hot-shingle capped), doc-hash sampled above
    * [[PairQualityDocCap]] like the rest of the grading family; the two
    * signature families ride ONE enriched per-doc frame joined exactly
    * twice (the dedup_containment_minhash lesson — separate sig joins
    * re-shuffled 64-long payloads), and the output is ≤ 8 rows.
    */
  def dedupDetectorAgreement(spark: SparkSession, dir: String): DataFrame =
    dedupDetectorAgreementGuarded(spark, dir, PairQualityDocCap)

  private[graft] def dedupDetectorAgreementGuarded(
      spark: SparkSession, dir: String, cap: Long): DataFrame = {
    val nDocs = Tables.cachedCount(spark, dir, "documents")
    val (docs, m) =
      sampleAboveCap("dedup_detector_agreement", Tables.documents(spark, dir), nDocs, cap)
    val pairs = pairCommonOf(docs)
      .select(
        col("doc_a"),
        col("doc_b"),
        Det.detRound(
          col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6)
          .as("jaccard"))
    // full-corpus run serves the STORED minhash sketch (the same
    // build-once table dedup_minhash reads); only the sampled route
    // signs its 1/m slice in-flight. The enriched per-doc frame feeds
    // TWO join branches, so it persists — unpersisted, each branch
    // re-ran the 64-perm signing pass (measured 27 s vs ~4 s at ×1)
    val msigs =
      if (m == 1L) minhashBands(spark, dir, MinhashK)._1
      else minhashBandsOf(docs, MinhashK, persistSigs = false)._1
    val ssigs = docs
      .select(col("doc_id"), expr("graft_simhash_md5(split(text, ' '))").as("s2"))
      .select(col("doc_id"), expr("s2[0]").as("hi"), expr("s2[1]").as("lo"))
    val enriched = msigs.join(ssigs, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val k = MinhashK
    // BROADCAST both sig sides: the per-doc frame is bounded by the
    // grading-family doc cap (≤ 20k rows ≈ 12 MB with 64-long sigs) on
    // every route, while the pair stream is NOT bounded below the cap
    // (all co-shingled pairs — ~20M at the 100×-docs probe's sampled
    // slice). Shuffle-joining shipped the pair stream with sig payloads
    // through two exchanges: 14 GiB of spill at 100×; broadcast keeps
    // the pair stream streaming map-side with zero exchange
    val scored = pairs
      .join(
        broadcast(enriched.select(
          col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("hi").as("hi_a"), col("lo").as("lo_a"))),
        "doc_a")
      .join(
        broadcast(enriched.select(
          col("doc_id").as("doc_b"), col("sig").as("sig_b"),
          col("hi").as("hi_b"), col("lo").as("lo_b"))),
        "doc_b")
      // Both minhash measures come from the codegen'd comparison
      // kernels (functions.SigMatches / SigBandHit) — the earlier
      // zip_with form allocated an intermediate equality array per pair
      // and the per-band reads on top of it; on the 1.1M-pair stream
      // the scoring stage measured 10.3 CPU-s, allocation-dominated.
      .select(
        col("jaccard"),
        Det.detRound(
          expr(s"graft_sig_matches(sig_a, sig_b) / CAST($k AS DOUBLE)"), 6)
          .as("est_jaccard"),
        expr("graft_sig_band_hit(sig_a, sig_b, 4)").as("band_hit"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long").as("hamming"))
    scored
      .select(
        (col("jaccard") >= 0.6).as("v_exact"),
        (col("band_hit") && col("est_jaccard") >= 0.5).as("v_minhash"),
        (col("hamming") <= 3L).as("v_simhash"),
        col("jaccard"), col("est_jaccard"), col("hamming"))
      .groupBy(col("v_exact"), col("v_minhash"), col("v_simhash"))
      .agg(
        count(lit(1)).as("n_pairs"),
        Det.detRound(Det.fineSum(col("jaccard")) / count(lit(1)), 6).as("mean_jaccard"),
        Det.detRound(Det.fineSum(col("est_jaccard")) / count(lit(1)), 6).as("mean_est"),
        Det.detRound(sum(col("hamming")).cast("double") / count(lit(1)), 6).as("mean_hamming"))
      .orderBy(desc("v_exact"), desc("v_minhash"), desc("v_simhash"))
  }

  /** DuckDB twin of dedupDetectorAgreement: the minhash oracle prefix
    * (shared shingles + signature chain), the exact-Jaccard chain over
    * a DISTINCT view of the same shingle CTE, the simhash signature
    * chain, and the per-pair verdict cube replayed rule-for-rule.
    */
  private val dedupDetectorAgreementSql = {
    def r6(e: String) = Det.roundSql(e, 6)
    val est = estJaccardSql(MinhashK)
    s"""WITH ${minhashSqlPrefix(MinhashK)},
       |jsh AS (
       |  SELECT DISTINCT doc_id, s FROM sh
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM jsh GROUP BY doc_id
       |), cold AS (
       |  SELECT * FROM jsh WHERE s IN (
       |    SELECT s FROM jsh GROUP BY s HAVING count(*) <= $HotShingleCap)
       |), common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT doc_a, doc_b,
       |         ${r6("CAST(common AS DOUBLE) / (x.sz + y.sz - common)")} AS jaccard
       |  FROM common JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
       |), sw AS (
       |  SELECT doc_id, unnest(t) AS w FROM toks
       |), sth AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(w), 1, 8))::BIGINT AS hi,
       |         ('0x' || substr(md5(w), 9, 8))::BIGINT AS lo
       |  FROM sw
       |), sbits AS (
       |  SELECT doc_id, j,
       |         SUM(CASE WHEN (lo >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c_lo,
       |         SUM(CASE WHEN (hi >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c_hi
       |  FROM sth, (SELECT unnest(generate_series(0, 31)) AS j)
       |  GROUP BY doc_id, j
       |), ssigs AS (
       |  SELECT doc_id,
       |         SUM(CASE WHEN c_hi > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS hi,
       |         SUM(CASE WHEN c_lo > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS lo
       |  FROM sbits GROUP BY doc_id
       |), scored AS (
       |  SELECT p.jaccard,
       |         ${r6(est)} AS est_jaccard,
       |         len(list_filter(generate_series(0, 15), b ->
       |           list_slice(sa.sig, b * 4 + 1, b * 4 + 4) =
       |           list_slice(sb.sig, b * 4 + 1, b * 4 + 4))) > 0 AS band_hit,
       |         CAST(bit_count(xor(xa.hi, xb.hi)) + bit_count(xor(xa.lo, xb.lo)) AS BIGINT) AS hamming
       |  FROM pairs p
       |  JOIN sigs  sa ON p.doc_a = sa.doc_id
       |  JOIN sigs  sb ON p.doc_b = sb.doc_id
       |  JOIN ssigs xa ON p.doc_a = xa.doc_id
       |  JOIN ssigs xb ON p.doc_b = xb.doc_id
       |)
       |SELECT jaccard >= 0.6 AS v_exact,
       |       (band_hit AND est_jaccard >= 0.5) AS v_minhash,
       |       hamming <= 3 AS v_simhash,
       |       count(*) AS n_pairs,
       |       ${r6("CAST(SUM(CAST(jaccard AS DECIMAL(30,10))) AS DOUBLE) / count(*)")} AS mean_jaccard,
       |       ${r6("CAST(SUM(CAST(est_jaccard AS DECIMAL(30,10))) AS DOUBLE) / count(*)")} AS mean_est,
       |       ${r6("CAST(SUM(hamming) AS DOUBLE) / count(*)")} AS mean_hamming
       |FROM scored
       |GROUP BY 1, 2, 3
       |ORDER BY v_exact DESC, v_minhash DESC, v_simhash DESC""".stripMargin
  }

  /** Cross-source duplication matrix: verified minhash near-dup pair
    * counts by (source, source) — the dedup-observability view that
    * tells you WHICH sources copy from each other (mirror sites, feed
    * re-crawls) versus which only self-duplicate, i.e. the evidence
    * you set per-source dedup policy from before a 100 TB run. Pairs
    * come from the bounded dedup_minhash path (capped LSH buckets —
    * never all-pairs); only (doc_id, doc_id) longs and short source
    * labels ever shuffle through the two label joins, and the output
    * is |sources|² at most. Source pairs are canonicalized by string
    * order with EXPLICIT NULL handling (a bare `sa <= sb` CASE is NULL
    * when either side is, which would split one unordered pair across
    * two cells depending on which doc landed in doc_a): the non-NULL
    * label always takes source_a, NULL always lands in source_b, and
    * GROUP BY groups NULLs identically on both engines. scope =
    * 'within' when a source provably duplicates itself; pairs with an
    * unknown (NULL) side — including NULL-NULL — report 'cross', since
    * sameness cannot be asserted.
    */
  def dedupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhash(spark, dir).select(col("doc_a"), col("doc_b"))
    val src   = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      // NULL-safe canonicalization: `sa <= sb` is NULL when either side
      // is NULL, so a bare CASE would place {NULL, s} differently
      // depending on which doc happened to be doc_a — splitting one
      // unordered source pair across two matrix cells. Handle NULL
      // explicitly: the non-NULL label always lands in source_a.
      .select(
        when(col("sa").isNull, col("sb"))
          .when(col("sb").isNull, col("sa"))
          .when(col("sa") <= col("sb"), col("sa"))
          .otherwise(col("sb")).as("source_a"),
        when(col("sa").isNull || col("sb").isNull, lit(null).cast("string"))
          .when(col("sa") <= col("sb"), col("sb"))
          .otherwise(col("sa")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn(
        "scope",
        when(col("source_a") === col("source_b"), lit("within"))
          .otherwise(lit("cross")))
      .orderBy(asc_nulls_last("source_a"), asc_nulls_last("source_b"))
  }

  private val dedupSourceMatrixSql =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($dedupMinhashSql) mx),
       |lab AS (
       |  SELECT CASE WHEN da.source IS NULL THEN db.source
       |              WHEN db.source IS NULL THEN da.source
       |              WHEN da.source <= db.source THEN da.source
       |              ELSE db.source END AS source_a,
       |         CASE WHEN da.source IS NULL OR db.source IS NULL THEN NULL
       |              WHEN da.source <= db.source THEN db.source
       |              ELSE da.source END AS source_b
       |  FROM pairs p
       |  JOIN documents da ON p.doc_a = da.doc_id
       |  JOIN documents db ON p.doc_b = db.doc_id
       |)
       |SELECT source_a, source_b, count(*) AS n_pairs,
       |       CASE WHEN source_a = source_b THEN 'within' ELSE 'cross' END AS scope
       |FROM lab
       |GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Duplication-vs-quality interaction: the quality_filter pass flag
    * (SAME thresholds — the two reports stay comparable) grouped by
    * how duplicated each document is (its bounded minhash CC cluster
    * size; singletons count 1). This is the measurement behind the
    * filter-ORDER decision every curation pipeline makes: if heavily
    * duplicated docs pass quality at the same rate as unique ones,
    * dedup first and save the quality pass's compute on doomed copies;
    * if dup-heavy docs skew low-quality, quality-filter first and
    * shrink the dedup input instead. Cluster labels come from the
    * STORED CC table (built once per corpus) and are read once: the
    * cluster size is a window count over them, so no self-join of the
    * labels has two equal-sized sides whose broadcast build side could
    * flip between runs. Then one doc-keyed left join over scan-side
    * flags — every stage linear, bucket labels crafted to sort
    * lexicographically so the output order is portable.
    */
  def qualityVsDup(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = minhashCcLabels(spark, dir)
      .select(
        col("node").as("doc_id"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("label")))
          .as("csize"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("t")).cast("long").as("n_tokens"),
        expr("CAST(aggregate(t, 0, (a, w) -> a + length(w)) AS BIGINT)").as("token_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("dup_count", coalesce(col("csize"), lit(1L)))
      .withColumn(
        "dup_bucket",
        when(col("dup_count") === 1, "1_unique")
          .when(col("dup_count") === 2, "2")
          .when(col("dup_count") <= 4, "3-4")
          .when(col("dup_count") <= 8, "5-8")
          .otherwise("9+"))
      .withColumn("passes", TextNgrams.qualityPassFlag)
      .groupBy(col("dup_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_pass"),
        sum(col("n_chars")).as("sum_chars"))
      .select(
        col("dup_bucket"), col("n_docs"), col("n_pass"),
        Det.detRound(col("n_pass").cast("double") / col("n_docs"), 6).as("pass_rate"),
        Det.detRound(col("sum_chars").cast("double") / col("n_docs"), 6).as("avg_chars"))
      .orderBy(col("dup_bucket"))
  }

  private val qualityVsDupSql =
    s"""WITH assign AS (
       |  SELECT doc_id, cluster_id FROM (
       |${dedupClustersMinhashSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |), sizes AS (
       |  SELECT cluster_id, count(*) AS csize FROM assign GROUP BY cluster_id
       |), perdoc AS (
       |  SELECT a.doc_id, s.csize FROM assign a JOIN sizes s USING (cluster_id)
       |), m AS (
       |  SELECT d.doc_id, d.n_chars,
       |         len(string_split(d.text, ' ')) AS n_tokens,
       |         ${TextNgrams.tokenCharsSql} AS token_chars,
       |         COALESCE(p.csize, 1) AS dup_count
       |  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
       |), f AS (
       |  SELECT CASE WHEN dup_count = 1 THEN '1_unique' WHEN dup_count = 2 THEN '2'
       |              WHEN dup_count <= 4 THEN '3-4' WHEN dup_count <= 8 THEN '5-8'
       |              ELSE '9+' END AS dup_bucket,
       |         n_chars,
       |         ${TextNgrams.qualityPassSql} AS passes
       |  FROM m
       |)
       |SELECT dup_bucket, count(*) AS n_docs,
       |       CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |       ${Det.roundSql(
          "CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS pass_rate,
       |       ${Det.roundSql("CAST(SUM(n_chars) AS DOUBLE) / count(*)", 6)} AS avg_chars
       |FROM f
       |GROUP BY dup_bucket
       |ORDER BY dup_bucket""".stripMargin

  /** Cluster-cohesion audit: the trust-but-verify check on the star-edge
    * CC clustering. Star edges buy linear candidate work (see
    * dedupClustersMinhash) at a documented price — two docs can share a
    * cluster through a hub without ever being verified against each
    * other. This query prices that risk per cluster-size bucket from
    * the verified PAIR set (dedup_minhash): how many clusters carry at
    * least one verified pair edge, the mean of each cluster's WEAKEST
    * edge (a low min similarity = chained cluster, a split candidate),
    * and the mean pair density (verified edges / possible member
    * pairs). Labels come from the STORED CC table; pair estimates are
    * already 6-dp-rounded, and per-cluster means aggregate as exact
    * DECIMAL sums — engine-portable end to end. Everything is
    * cluster-keyed aggregation over pair-bounded frames; no new
    * quadratic surface (the pair set itself is bucket-capped).
    */
  def clusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    val labels = dedupClustersMinhash(spark, dir) // (doc_id, cluster_id), stored
    val sizes = labels
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csize"))
    val edges = dedupMinhash(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .join(labels.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")), "doc_a")
      .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), "doc_b")
      .filter(col("ca") === col("cb"))
      .select(col("ca").as("cluster_id"), col("est_jaccard"))
    val perCluster = edges
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_edges"), min(col("est_jaccard")).as("min_sim"))
    val bucketed = sizes
      .join(perCluster, Seq("cluster_id"), "left")
      .select(
        when(col("csize") === 2, "2")
          .when(col("csize") <= 4, "3-4")
          .when(col("csize") <= 8, "5-8")
          .otherwise("9+").as("size_bucket"),
        col("csize"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        col("min_sim"),
        (coalesce(col("n_edges"), lit(0L)).cast("double") /
          (col("csize") * (col("csize") - 1) / lit(2.0))).as("density"))
    bucketed
      .groupBy(col("size_bucket"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(when(col("n_edges") > 0, 1L).otherwise(0L)).as("n_cohesive"),
        sum(col("n_edges")).as("n_edges"),
        Det.fineSum(coalesce(col("min_sim"), lit(0.0))).as("sum_min_sim"),
        Det.fineSum(col("density")).as("sum_density"))
      .select(
        col("size_bucket"), col("n_clusters"), col("n_cohesive"), col("n_edges"),
        when(col("n_cohesive") === 0, lit(0.0))
          .otherwise(Det.detRound(col("sum_min_sim") / col("n_cohesive"), 6))
          .as("avg_min_sim"),
        Det.detRound(col("sum_density") / col("n_clusters"), 6).as("avg_density"))
      .orderBy(col("size_bucket"))
  }

  private val clusterCohesionSql =
    s"""WITH assign AS (
       |  SELECT doc_id, cluster_id FROM (
       |${dedupClustersMinhashSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |), pairs AS (
       |  SELECT doc_a, doc_b, est_jaccard FROM (
       |${dedupMinhashSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |), sizes AS (
       |  SELECT cluster_id, count(*) AS csize FROM assign GROUP BY cluster_id
       |), edges AS (
       |  SELECT la.cluster_id, p.est_jaccard
       |  FROM pairs p
       |  JOIN assign la ON p.doc_a = la.doc_id
       |  JOIN assign lb ON p.doc_b = lb.doc_id
       |  WHERE la.cluster_id = lb.cluster_id
       |), per_cluster AS (
       |  SELECT cluster_id, count(*) AS n_edges, min(est_jaccard) AS min_sim
       |  FROM edges GROUP BY cluster_id
       |), bucketed AS (
       |  SELECT CASE WHEN s.csize = 2 THEN '2' WHEN s.csize <= 4 THEN '3-4'
       |              WHEN s.csize <= 8 THEN '5-8' ELSE '9+' END AS size_bucket,
       |         s.csize,
       |         COALESCE(p.n_edges, 0) AS n_edges,
       |         p.min_sim,
       |         CAST(COALESCE(p.n_edges, 0) AS DOUBLE) / (s.csize * (s.csize - 1) / 2.0) AS density
       |  FROM sizes s LEFT JOIN per_cluster p ON s.cluster_id = p.cluster_id
       |)
       |SELECT size_bucket,
       |       count(*) AS n_clusters,
       |       CAST(SUM(CASE WHEN n_edges > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cohesive,
       |       CAST(SUM(n_edges) AS BIGINT) AS n_edges,
       |       CASE WHEN SUM(CASE WHEN n_edges > 0 THEN 1 ELSE 0 END) = 0 THEN CAST(0 AS DOUBLE)
       |            ELSE ${Det.roundSql(
          "CAST(SUM(CAST(COALESCE(min_sim, 0.0) AS DECIMAL(30,10))) AS DOUBLE) / SUM(CASE WHEN n_edges > 0 THEN 1 ELSE 0 END)",
          6)} END AS avg_min_sim,
       |       ${Det.roundSql(
          "CAST(SUM(CAST(density AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS avg_density
       |FROM bucketed
       |GROUP BY size_bucket
       |ORDER BY size_bucket""".stripMargin

  /** FUZZY train→eval leakage — split_contamination's near-dup
    * counterpart: exact chunk hashing misses the lightly-edited copy
    * (reworded sentence, shuffled paragraph) that MinHash catches, and
    * published decontamination pipelines run BOTH tiers before
    * reporting eval numbers. Reuses the stored 64-perm sketch and the
    * 16×4 band kernel verbatim (dedupMinhashOf — same bucket caps, same
    * ≥0.5 verify), assigns dataset_split's salted-hash splits in-row,
    * keeps the pairs where EXACTLY one side is train, and counts the
    * distinct eval docs carrying at least one such edge. Scale shape:
    * the leak edge set rides the already-bounded candidate kernel; the
    * per-split totals are a 3-row map-side aggregate of the corpus —
    * no corpus-keyed join anywhere.
    */
  def splitContaminationFuzzy(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) =
      when(substring(md5(concat(lit("split:"), c.cast("string"))), 1, 1) <= "b", "train")
        .when(substring(md5(concat(lit("split:"), c.cast("string"))), 1, 1) <= "d", "val")
        .otherwise("test")
    val (sigs, bands) = minhashBands(spark, dir, MinhashK)
    val pairs = dedupMinhashOf(sigs, bands)
      .withColumn("split_a", splitOf(col("doc_a")))
      .withColumn("split_b", splitOf(col("doc_b")))
    val leaks = pairs
      .filter((col("split_a") === "train") =!= (col("split_b") === "train"))
      .select(
        when(col("split_a") === "train", col("doc_b")).otherwise(col("doc_a")).as("doc_id"),
        when(col("split_a") === "train", col("split_b")).otherwise(col("split_a")).as("split"))
      .distinct()
      .groupBy(col("split"))
      .agg(count(lit(1)).as("docs_leaked"))
    val totals = Tables.documents(spark, dir)
      .select(splitOf(col("doc_id")).as("split"))
      .filter(col("split") =!= "train")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
    totals
      .join(leaks, Seq("split"), "left")
      .select(
        col("split"), col("n_docs"),
        coalesce(col("docs_leaked"), lit(0L)).as("docs_leaked"),
        Det.detRound(
          coalesce(col("docs_leaked"), lit(0L)).cast("double") / col("n_docs"), 6)
          .as("leak_rate"))
      .orderBy(col("split"))
  }

  /** DuckDB twin: the full minhash chain (shared prefix), the same
    * candidate+verify pair set, the same salted-hash split rule, the
    * same XOR-train edge filter and distinct-eval-doc count.
    */
  private val splitContaminationFuzzySql = {
    val est = estJaccardSql(MinhashK)
    def spl(c: String) =
      s"""CASE WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
         |     WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH ${minhashSqlPrefix(MinhashK)},
       |cand AS (
       |  SELECT DISTINCT a.x AS doc_a, b.x AS doc_b
       |  FROM buck, unnest(docs) AS a(x), unnest(docs) AS b(x)
       |  WHERE len(docs) BETWEEN 2 AND 100 AND a.x < b.x
       |), pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |         ${spl("c.doc_a")} AS split_a,
       |         ${spl("c.doc_b")} AS split_b
       |  FROM cand c
       |  JOIN sigs sa ON c.doc_a = sa.doc_id
       |  JOIN sigs sb ON c.doc_b = sb.doc_id
       |  WHERE ${Det.roundSql(est, 6)} >= 0.5
       |), leaks AS (
       |  SELECT DISTINCT
       |         CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS doc_id,
       |         CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS split
       |  FROM pairs
       |  WHERE (split_a = 'train') != (split_b = 'train')
       |), lk AS (
       |  SELECT split, count(*) AS docs_leaked FROM leaks GROUP BY split
       |), tot AS (
       |  SELECT ${spl("doc_id")} AS split, count(*) AS n_docs
       |  FROM documents GROUP BY 1
       |)
       |SELECT t.split, t.n_docs,
       |       COALESCE(l.docs_leaked, 0) AS docs_leaked,
       |       ${Det.roundSql("CAST(COALESCE(l.docs_leaked, 0) AS DOUBLE) / t.n_docs", 6)} AS leak_rate
       |FROM tot t LEFT JOIN lk l ON t.split = l.split
       |WHERE t.split != 'train'
       |ORDER BY t.split""".stripMargin
  }

  /** Dedup-aware weighted sampling — the sampler a pipeline runs when
    * it keeps near-duplicates but refuses to let them vote with their
    * multiplicity: each doc's PPS weight is its size DIVIDED by its
    * near-dup cluster size (the stored minhash CC labels — a 40-copy
    * boilerplate cluster carries one doc's worth of total weight, not
    * forty), then the same systematic integer-crossing PPS design as
    * sample_weighted_pps draws k docs on a salted-hash line. Weights
    * floor at 1 so every doc keeps a nonzero inclusion probability and
    * the line length stays positive. Draw-count caveat (inherited from
    * sample_weighted_pps's systematic design): a doc whose weight
    * exceeds total/k absorbs MULTIPLE integer crossings but is emitted
    * once, so on a heavily skewed corpus the sample can come in under
    * k — the standard systematic-PPS behavior (certainty units), kept
    * deliberately so both samplers share one crossing kernel; engines
    * always agree row-for-row either way.
    * Scale shape: labels and sizes are
    * one keyed join each (linear, AQE-handled), the prefix sum is the
    * range-bucketed distributed kernel, the crossing test is pure
    * 64-bit integer arithmetic — bit-reproducible across engines.
    */
  def sampleDedupAware(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.cachedCount(spark, dir, "documents")
    val labels = ccLabels(
      spark, dir, "minhash",
      s"rows=$rows;k=$MinhashK;bucketCap=1000;tau=0.5")(minhashStarEdges(spark, dir))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val csize = labels
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csize"))
    val withSize = labels.join(csize, "cluster_id").select(col("doc_id"), col("csize"))
    val k = Warehouse.PpsK
    val adj = Tables
      .documents(spark, dir)
      .select(col("doc_id"), coalesce(col("n_chars").cast("long"), lit(0L)).as("nc"))
      .join(withSize, Seq("doc_id"), "left")
      .withColumn("csize", coalesce(col("csize"), lit(1L)))
      .withColumn("w", greatest(lit(1L), expr("nc div csize")))
      .select(
        col("doc_id"), col("csize"), col("w"),
        expr("CAST(conv(substr(md5(concat('dsample:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
    val totalRow = adj.agg(sum(col("w")).as("t")).first()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    if (total <= 0L)
      return adj
        .withColumn("cum", lit(0L))
        .select(col("doc_id"), col("csize"), col("w"), col("cum"), lit(0L).as("sample_idx"))
        .limit(0)
    require(total <= Long.MaxValue / k,
      s"adjusted corpus weight $total overflows the integer crossing test at k=$k")
    Rank
      .withPrefixSum(adj, "h", "w", tieBreak = Seq("doc_id"))
      .filter(
        expr(s"(cum * $k) div ${total}L") >
          expr(s"((cum - w) * $k) div ${total}L"))
      .select(
        col("doc_id"), col("csize"), col("w"), col("cum"),
        expr(s"(cum * $k) div ${total}L").as("sample_idx"))
      .orderBy(col("cum"))
  }

  /** DuckDB twin: the star-edge CC closure (shared with
    * dedup_clusters_minhash), cluster sizes, the same floored
    * size/csize weights, the same salted-hash line and integer
    * crossing test.
    */
  private val sampleDedupAwareSql = {
    val k = Warehouse.PpsK
    s"""WITH RECURSIVE ${minhashSqlPrefix(MinhashK)},
       |star0 AS (
       |  SELECT docs[1] AS doc_a, unnest(list_slice(docs, 2, len(docs))) AS doc_b
       |  FROM buck WHERE len(docs) BETWEEN 2 AND 1000
       |), star AS (
       |  SELECT DISTINCT doc_a, doc_b FROM star0
       |), verified AS (
       |  SELECT s.doc_a, s.doc_b FROM star s
       |  JOIN sigs sa ON s.doc_a = sa.doc_id
       |  JOIN sigs sb ON s.doc_b = sb.doc_id
       |  WHERE ${estJaccardSql(MinhashK)} >= 0.5
       |), edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM verified
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM verified
       |), reach(node, r) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
       |), lab AS (
       |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
       |), cs AS (
       |  SELECT cluster_id, count(*) AS csize FROM lab GROUP BY cluster_id
       |), ds AS (
       |  SELECT l.doc_id, cs.csize FROM lab l JOIN cs ON l.cluster_id = cs.cluster_id
       |), adj AS (
       |  SELECT d.doc_id,
       |         CAST(COALESCE(ds.csize, 1) AS BIGINT) AS csize,
       |         CAST(GREATEST(1, COALESCE(d.n_chars, 0) // COALESCE(ds.csize, 1)) AS BIGINT) AS w,
       |         ('0x' || substr(md5('dsample:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
       |), c AS (
       |  SELECT doc_id, csize, w,
       |         SUM(w) OVER (ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM adj
       |), t AS (SELECT SUM(w) AS total FROM adj)
       |SELECT doc_id, csize, w, CAST(cum AS BIGINT) AS cum,
       |       CAST((cum * $k) // total AS BIGINT) AS sample_idx
       |FROM c, t
       |WHERE (cum * $k) // total > ((cum - w) * $k) // total
       |ORDER BY cum""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "sample_dedup_aware" -> QueryDef(sampleDedupAware, Some(sampleDedupAwareSql)),
    "split_contamination_fuzzy" ->
      QueryDef(splitContaminationFuzzy, Some(splitContaminationFuzzySql)),
    "cluster_cohesion" -> QueryDef(clusterCohesion, Some(clusterCohesionSql)),
    "quality_vs_dup" -> QueryDef(qualityVsDup, Some(qualityVsDupSql)),
    "dedup_source_matrix" -> QueryDef(dedupSourceMatrix, Some(dedupSourceMatrixSql)),
    "lsh_band_sweep" -> QueryDef(lshBandSweep, Some(lshBandSweepSql)),
    "minhash_k_curve" -> QueryDef(minhashKCurve, Some(minhashKCurveSql)),
    "simhash_threshold_curve" ->
      QueryDef(simhashThresholdCurve, Some(simhashThresholdCurveSql)),
    "dedup_pair_quality" -> QueryDef(dedupPairQuality, Some(dedupPairQualitySql)),
    "dedup_detector_agreement" ->
      QueryDef(dedupDetectorAgreement, Some(dedupDetectorAgreementSql)),
    "dedup_cluster_sizes" -> QueryDef(dedupClusterSizes, Some(dedupClusterSizesSql)),
    "dedup_incremental" -> QueryDef(dedupIncremental, Some(dedupIncrementalSql)),
    "dedup_minhash_index_append" -> QueryDef(
      dedupMinhashIndexAppend, Some(dedupMinhashIndexAppendSql)),
    "dedup_minhash_index_compact" -> QueryDef(
      dedupMinhashIndexCompact, Some(dedupMinhashIndexCompactSql)),
    "dedup_pipeline_report" -> QueryDef(
      dedupPipelineReport, Some(dedupPipelineReportSql)),
    "dedup_keep_best" -> QueryDef(dedupKeepBest, Some(dedupKeepBestSql)),
    "dedup_keep_best_containment" ->
      QueryDef(dedupKeepBestContainment, Some(dedupKeepBestContainmentSql)),
    "dedup_editdist" -> QueryDef(dedupEditdist, Some(dedupEditdistSql)),
    "dedup_clusters" -> QueryDef(dedupClusters, Some(dedupClustersSql)),
    "dedup_clusters_minhash" -> QueryDef(dedupClustersMinhash, Some(dedupClustersMinhashSql)),
    "dedup_keep_best_minhash" ->
      QueryDef(dedupKeepBestMinhash, Some(dedupKeepBestMinhashSql)),
    "dedup_containment" -> QueryDef(dedupContainment, Some(dedupContainmentSql)),
    "dedup_containment_minhash" ->
      QueryDef(dedupContainmentMinhash, Some(dedupContainmentMinhashSql)),
    "dedup_exact"   -> QueryDef(dedupExact, Some(dedupExactSql)),
    "dedup_jaccard" -> QueryDef(dedupJaccard, Some(dedupJaccardSql)),
    "dedup_minhash" -> QueryDef(dedupMinhash, Some(dedupMinhashSql)),
    "dedup_simhash" -> QueryDef(dedupSimhash, Some(dedupSimhashSql)))
}
