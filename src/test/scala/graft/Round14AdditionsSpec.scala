package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 additions: the sound pair-mass skip bound (token mass, not
  * C(n,2) — a doc pair counts once PER shared cold shingle, so doc
  * count alone never bounds the expansion), bucketed stored probe
  * indexes, and the substring-tier overflow routing (the rest of the
  * stored-index lifecycle lives in StoredIndexSpec).
  */
class Round14AdditionsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def docsFrame(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("dense small corpus routes on pair mass even when C(n,2) fits the budget") {
    // 60 identical 120-token docs: C(60,2) = 1,770 but the exact kernel
    // would expand ~118 shared shingles × C(60,2) ≈ 209k pair rows — the
    // round-13 short-circuit (skip the measurement when C(n,2) fits)
    // took the exact path unguarded on exactly this shape. The sound
    // bound (tokens·(HotShingleCap−1)/2) forces the measurement, which
    // routes to the minhash twin.
    val tmp = java.nio.file.Files.createTempDirectory("graft-dense").toString
    val text = (1 to 120).map(i => s"dense$i").mkString(" ")
    docsFrame((0L until 60L).map(i => i -> text))
      .select(
        col("doc_id"), col("text"),
        lit("en").as("lang"), lit("web").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val budget = 5000L // > C(60,2) = 1,770: the old skip would engage
    val mass = operators.Dedup.exactPairMass(spark, tmp)
    assert(mass > budget, s"fixture must be dense: mass=$mass")
    assert(operators.Dedup.pairMassBound(spark, tmp) >= mass,
      "the token-mass bound must dominate the true pair mass")

    Downgrades.last = None
    val routed = operators.Dedup.dedupJaccardGuarded(
      spark, tmp, cap = Long.MaxValue, pairBudget = budget)
    assert(Downgrades.last.exists(m =>
      m.contains("dedup_jaccard") && m.contains("pair-mass")),
      s"dense corpus must route on the measured mass: ${Downgrades.last}")
    assert(routed.columns.toSeq == Seq("doc_a", "doc_b", "common", "jaccard"))

    // keep-best-containment shares the guard axis and must also route
    Downgrades.last = None
    operators.Dedup.dedupKeepBestContainmentGuarded(
      spark, tmp, cap = Long.MaxValue, pairBudget = budget).count()
    assert(Downgrades.last.exists(_.contains("dedup_keep_best_containment")),
      s"keep_best_containment must route on the same axis: ${Downgrades.last}")
  }

  test("lm_score_bigram plan construction runs no Spark job once the model is stored") {
    // first call may train (jobs allowed); it persists the model AND the
    // vocab scalar. Clearing the memo then simulates a fresh JVM: plan
    // construction + explain against the stored model must be job-free
    // (the round-12/13 construction-time-job discipline).
    import org.apache.spark.sql.classic.{Dataset => CDataset}
    import org.apache.spark.sql.Row
    val q = SparkEntry.queries("lm_score_bigram")
    q(spark, TestSpark.Sf) // builds model on first touch
    sources.DerivedCache.resetMemo()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        descs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?")))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = q(spark, TestSpark.Sf)
      df.asInstanceOf[CDataset[Row]]
        .queryExecution.executedPlan.toString // force full planning
      // deterministic drain of the async listener bus (a sleep can mask
      // a late-arriving job event on a loaded machine)
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      assert(jobs.get() === 0,
        "plan-only construction against a stored model must trigger no job; " +
          s"fired: ${descs.toArray.mkString(" | ")}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("incremental probes read bucketed indexes: no Exchange on the index side") {
    StoredIndexChecks.assertNoIndexSideExchange(spark, Seq(
      "dedup_substring_incremental", "dedup_substring_strip_incremental",
      "dedup_incremental", "cdc_incremental",
      "dedup_substring_index_append", "dedup_substring_index_compact"))
  }

  test("dedup_substring_strip: a 100-copy boilerplate window strips from all non-keepers") {
    // df = 100 > SubstrDfCap = 64: the pre-r14 cap silently KEPT these —
    // zero yield on exactly the most-duplicated text. Now they strip
    // under the same keep-first rule and the boiler_* columns account
    // for the mass. 3 unique prefix tokens + a 55-token shared run per
    // doc: 9 windows each, the 6 fully-inside-the-run ones shared.
    val run = (1 to 55).map(i => s"boil$i")
    val docs = docsFrame((0L until 100L).map(d =>
      d -> ((1 to 3).map(i => s"u${d}_$i") ++ run).mkString(" ")))
    val rows = operators.Cdc.dedupSubstringStripOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    assert(rows.size === 100)
    // keeper (lowest id) keeps everything
    assert(rows(0L) === ((58L, 0L, 0L, 0L)))
    // every other copy loses the full 55-token run, all of it boilerplate
    (1L until 100L).foreach { d =>
      assert(rows(d) === ((58L, 55L, 6L, 55L)), s"doc $d: ${rows(d)}")
    }
    // and the strip-text surface materializes exactly the prefix tokens
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val texts = operators.Cdc.dedupSubstringStripTextOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(texts(7L) === md5hex((1 to 3).map(i => s"u7_$i").mkString(" ")))
  }

  test("dedup_substring_strip_incremental: intra-delta duplicates no longer land verbatim") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val runA = (1 to 60).map(i => s"basea$i").mkString(" ") // lives in base
    val runB = (1 to 60).map(i => s"deltb$i").mkString(" ") // delta-only
    val base = docsFrame(Seq(1L -> runA))
    val idx = operators.Cdc.substrPostings(base)
    // 101 and 102 are identical delta-only twins; 103 carries the BASE
    // run (keep-base strips it even though it is unique in the delta);
    // 104 is untouched
    val solo = (1 to 60).map(i => s"solo$i").mkString(" ")
    val delta = docsFrame(Seq(
      101L -> runB, 102L -> runB, 103L -> runA, 104L -> solo))
    val out = operators.Cdc.dedupSubstringStripIncrementalOf(delta, idx)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // intra-delta keep-first: 101 keeps, its twin 102 strips to empty
    assert(out(101L) === ((60L, 0L, md5hex(runB))))
    assert(out(102L) === ((60L, 60L, md5hex(""))))
    // keep-base: the base copy strips from the delta entirely
    assert(out(103L) === ((60L, 60L, md5hex(""))))
    assert(out(104L) === ((60L, 0L, md5hex(solo))))
  }

  test("segment merge equals a from-scratch rebuild, including cap crossers") {
    // base and segment each hold the shared run at df=40 ≤ SubstrDfCap;
    // merged df=80 crosses the cap ONLY at compaction — the exact case a
    // per-segment capped representation could get wrong. The merge is
    // computed from the STORED posting frames alone (no corpus re-scan)
    // and must be row-identical to rebuilding over base ∪ segment docs.
    val run = (1 to 55).map(i => s"cx$i")
    val base = docsFrame((0L until 40L).map(d =>
      d -> ((1 to 3).map(i => s"b${d}_$i") ++ run).mkString(" ")))
    val seg = docsFrame((100L until 140L).map(d =>
      d -> ((1 to 3).map(i => s"s${d}_$i") ++ run).mkString(" ")))
    val merged = operators.Cdc.SubstrTier.tables.head.merge
      .fold(operators.Cdc.substrPostings(base), operators.Cdc.substrPostings(seg))
      .select(col("h"), col("base_docs"))
    val scratch = operators.Cdc.substrPostings(base.unionByName(seg))
    assert(StoredIndexChecks.sameRows(merged, scratch),
      "compacted index must equal the from-scratch build")
    // the 6 fully-shared run windows are boiler ONLY after the merge
    val boiler = merged.filter(size(col("base_docs")) === 0).count()
    assert(boiler === 6L, s"cap crossers must reclassify at compaction: $boiler")
  }

  test("the STORED compacted layout equals a from-scratch rebuild on the sf fixture") {
    // the merge-kernel equality above runs on planted frames; this pins
    // the artifact a later session actually serves from
    StoredIndexChecks.assertStoredCompactMatchesRebuild(spark, operators.Cdc.SubstrTier)
  }

  test("the token-mass bound dominates the measured mass on the sf fixture") {
    assert(
      operators.Dedup.pairMassBound(spark, TestSpark.Sf) >=
        operators.Dedup.exactPairMass(spark, TestSpark.Sf))
  }
}
