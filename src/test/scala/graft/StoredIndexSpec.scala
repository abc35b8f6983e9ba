package graft

import graft.sources.{DerivedCache, StoredIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stored-index (LSM) lifecycle shared by the substring, minhash and
  * CDC tiers: lazy layouts under their pinned names and fingerprints,
  * append segments, the shuffle-free aligned write of the capped
  * compaction and the maintenance advisory. The exchange-free probes,
  * the merge closure and the stored compacted layouts of the substring
  * and minhash tiers are pinned in Round14AdditionsSpec and
  * Round15AdditionsSpec.
  */
class StoredIndexSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def docsFrame(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  /** A documents dir holding `rows` (the fields the dedup queries read). */
  private def corpusDir(prefix: String, rows: Seq[(Long, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    docsFrame(rows)
      .select(
        col("doc_id"), col("text"),
        lit("en").as("lang"), lit("web").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** A planted corpus whose doc_id % 10 split yields base (< 8), seg1
    * (== 8) and delta (== 9) batches with known twins.
    */
  private def plantedCorpus(): String = {
    def text(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    corpusDir("graft-mhlsm", Seq(
      3L  -> text("basedoc"),  // base twin target
      4L  -> text("other"),
      8L  -> text("segdoc"),   // seg1 twin target
      9L  -> text("basedoc"),  // delta: identical to base doc 3
      19L -> text("segdoc"),   // delta: identical to seg1 doc 8 — the
                               // cross-batch staleness case a static
                               // base index can never catch
      29L -> text("fresh")))   // delta: novel, must keep
  }

  test("layouts build lazily under their pinned names and fingerprints") {
    val tmp = plantedCorpus()
    sources.BuildLog.drain()
    def built(level: StoredIndex.Level, tier: StoredIndex.Tier) = {
      StoredIndex.dir(spark, tmp, tier, level)
      sources.BuildLog.drain().map(_.name)
    }
    // reading one level builds only that level; compaction builds only
    // its missing input
    assert(built(StoredIndex.Base, operators.Cdc.CdcTier) === Seq("cdc-store"))
    assert(built(StoredIndex.Compact, operators.Cdc.CdcTier) === Seq("cdc-seg", "cdc-compact"))
    // every level lands at the DerivedCache key of its pinned name and
    // fingerprint; the test session's 4 shuffle partitions give b=4
    assert(spark.sessionState.conf.numShufflePartitions === 4)
    val layouts = Seq(
      (operators.Cdc.CdcTier, "cdc-store", "b=4;v=3", "cdc-seg", "seg=8;b=4;v=1",
        "cdc-compact", "seg=8;b=4;v=1"),
      (operators.Cdc.SubstrTier, "substr-index", "w=50;df=64;b=4;v=2",
        "substr-seg", "w=50;df=64;seg=8;b=4;v=1", "substr-compact", "w=50;df=64;seg=8;b=4;v=2"),
      (operators.Dedup.MinhashTier, "dedup-base", "k=64;cap=100;b=4;v=3",
        "minhash-seg", "k=64;cap=100;seg=8;b=4;v=1", "minhash-compact", "k=64;cap=100;seg=8;b=4;v=1"))
    layouts.foreach { case (tier, bn, bf, sn, sf, cn, cf) =>
      Seq((StoredIndex.Base, bn, bf), (StoredIndex.Seg, sn, sf), (StoredIndex.Compact, cn, cf))
        .foreach { case (level, name, fp) =>
          val d = StoredIndex.dir(spark, tmp, tier, level)
          assert(d === DerivedCache.dir(tmp, name, fp)(_ => fail(s"$name was not built")))
        }
    }
  }

  test("the bucket count is the session's shuffle width, raised by the corpus bytes") {
    val split = StoredIndex.IndexBucketBytes
    // a tiny corpus (the sf fixture) or none at all gives the shuffle width
    assert(StoredIndex.buckets(spark, TestSpark.Sf) === 4)
    assert(StoredIndex.bucketsFor(4, 0L) === 4)
    assert(StoredIndex.bucketsFor(32, 4 * split) === 32)
    // past the width, every started scan split adds one bucket
    Seq(5, 17, 800).foreach { k =>
      assert(StoredIndex.bucketsFor(4, k * split) === k)
      assert(StoredIndex.bucketsFor(4, (k - 1) * split + 1) === k)
      assert(StoredIndex.bucketsFor(4, k * split + 1) === k + 1)
    }
  }

  test("base, segment and compact of a tier share one bucket count, named in the fingerprint") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    val tmp = plantedCorpus()
    val n = StoredIndex.buckets(spark, tmp)
    Seq(operators.Cdc.CdcTier, operators.Cdc.SubstrTier, operators.Dedup.MinhashTier)
      .foreach { tier =>
        Seq(StoredIndex.Base, StoredIndex.Seg, StoredIndex.Compact).foreach { level =>
          val d = StoredIndex.dir(spark, tmp, tier, level)
          val fp = new String(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d, "_GRAFT_DONE")), "UTF-8")
          assert(fp.contains(s"b=$n;v="), s"${tier.label}/$level fingerprint: $fp")
          tier.tables.zip(StoredIndex.tables(spark, tmp, tier, level)).foreach { case (t, df) =>
            val scans = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
            assert(scans.map(_.relation.bucketSpec.map(_.numBuckets)) === Seq(Some(n)),
              s"${tier.label}/$level/${t.suffix}")
            // the files themselves were written at n buckets
            val ids = new java.io.File(s"$d/${t.suffix}").listFiles()
              .map(_.getName).filter(_.endsWith(".parquet"))
              .flatMap(BucketingUtils.getBucketId(_))
            assert(ids.forall(i => i >= 0 && i < n), s"${tier.label}/$level/${t.suffix}: $ids")
          }
        }
      }
  }

  test("a session of another shuffle width opens its own layouts, never this count's tables") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = plantedCorpus()
    val tier = operators.Cdc.CdcTier
    val d4 = StoredIndex.dir(spark, tmp, tier, StoredIndex.Base)
    val other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "3")
    assert(StoredIndex.buckets(other, tmp) === 3)
    val d3 = StoredIndex.dir(other, tmp, tier, StoredIndex.Base)
    assert(d3 !== d4)
    val t3 = StoredIndex.tables(other, tmp, tier, StoredIndex.Base).head
    val scan = t3.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }.head
    assert(scan.relation.bucketSpec.map(_.numBuckets) === Some(3))
    assert(scan.relation.location.rootPaths.forall(_.toString.contains(new java.io.File(d3).getName)),
      s"3-bucket read of ${scan.relation.location.rootPaths}")
    // same rows at either count
    val t4 = StoredIndex.tables(spark, tmp, tier, StoredIndex.Base).head
    assert(StoredIndexChecks.sameRows(t3, t4))
  }

  test("cdc_incremental exchanges its delta once, at the index's width, and never the index") {
    StoredIndexChecks.assertNoIndexSideExchange(spark, Seq("cdc_incremental"))
    StoredIndexChecks.assertOneDeltaExchange(spark, "cdc_incremental")
  }

  test("the stored posting index keeps presence rows for boilerplate windows") {
    // 70 base copies (df = 70 > SubstrDfCap = 64): posting LISTS are
    // capped away (the detector explodes them — must stay pair-bounded)
    // but the PRESENCE row survives, so the incremental strip removes
    // the boilerplate from incoming deltas
    val run = (1 to 55).map(i => s"pres$i")
    val base = docsFrame((0L until 70L).map(d =>
      d -> ((1 to 3).map(i => s"b${d}_$i") ++ run).mkString(" ")))
    val idx = operators.Cdc.substrPostings(base)
    val boiler = idx.filter(size(col("base_docs")) === 0).count()
    assert(boiler === 6L, "the 6 shared run windows must keep presence rows")
    // detector: empty postings contribute no candidates — delta doc is
    // reported dup-free (the documented cap asymmetry)...
    val delta = docsFrame(Seq(900L -> run.mkString(" ")))
    val det = operators.Cdc.dedupSubstringIncrementalOf(delta, idx).collect()
    assert(det.head.getLong(2) === 0L, "n_dups stays 0 above the df cap")
    // ...but the STRIP removes the boilerplate run in full
    val strip = operators.Cdc.dedupSubstringStripIncrementalOf(delta, idx)
      .collect().head
    assert(strip.getLong(2) === 55L, "all 55 run tokens strip")
  }

  test("the STORED compacted cdc layout equals a from-scratch rebuild") {
    // the substring and minhash tiers are pinned the same way in
    // Round14AdditionsSpec and Round15AdditionsSpec
    StoredIndexChecks.assertStoredCompactMatchesRebuild(spark, operators.Cdc.CdcTier)
  }

  test("append probe: batch 2 dedupes against base AND the appended batch-1 segment") {
    val runA = (1 to 60).map(i => s"ba$i").mkString(" ") // lives in base
    val runB = (1 to 60).map(i => s"sg$i").mkString(" ") // lives in batch 1
    val idx0 = operators.Cdc.substrPostings(docsFrame(Seq(1L -> runA)))
    val idx1 = operators.Cdc.substrPostings(docsFrame(Seq(8L -> runB)))
    val solo = (1 to 60).map(i => s"so$i").mkString(" ")
    // 901 matches base; 902 matches ONLY the appended segment (the
    // staleness hole a static index leaves open); 903 matches nothing
    val delta = docsFrame(Seq(901L -> runA, 902L -> runB, 903L -> solo))
    val out = operators.Cdc.dedupSubstringIndexAppendOf(
        delta, Seq("base" -> idx0, "seg1" -> idx1))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), Option(r.get(3)), Option(r.get(4)), r.getBoolean(7))))
      .toMap
    assert(out(901L) === ((1L, Some(1L), Some("base"), false)))
    assert(out(902L) === ((1L, Some(8L), Some("seg1"), false)))
    assert(out(903L) === ((0L, None, None, true)))
  }

  test("minhash index append: a delta doc finds its twin in the APPENDED segment") {
    val tmp = plantedCorpus()
    val out = SparkEntry.queries("dedup_minhash_index_append")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.getString(3)), r.getBoolean(5)))
      .toMap
    assert(out.keySet === Set(9L, 19L, 29L))
    // base twin: caught by the base index
    assert(out(9L)._3 === Some("base"), s"doc 9: ${out(9L)}")
    assert(out(9L)._2 === Some(3L) && !out(9L)._4)
    // cross-batch twin: caught ONLY because batch 1 is a live segment
    assert(out(19L)._3 === Some("seg1"), s"doc 19: ${out(19L)}")
    assert(out(19L)._2 === Some(8L) && !out(19L)._4)
    // novel doc keeps
    assert(out(29L)._4 && out(29L)._1 === 0L)
  }

  test("aligned bucketed write of a bucketed-merge output plans ZERO shuffles") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-aligned").toString
    val a = (0L until 500L).map(h => (h, Seq(h)))
      .toDF("h", "base_docs")
    val b = (250L until 750L).map(h => (h, Seq(h + 10000L)))
      .toDF("h", "base_docs")
    val n = 32
    graft.sources.Bucketing.writeBucketedExternal(a, s"$tmp/a", Seq("h"), n)
    graft.sources.Bucketing.writeBucketedExternal(b, s"$tmp/b", Seq("h"), n)
    val ddl = "h BIGINT, base_docs ARRAY<BIGINT>"
    val ra = graft.sources.Bucketing.readBucketed(spark, s"$tmp/a", Seq("h"), ddl, n)
    val rb = graft.sources.Bucketing.readBucketed(spark, s"$tmp/b", Seq("h"), ddl, n)
    // the compaction kernel itself: the capped merge, lists well under cap
    val merged = StoredIndex.capped(Seq("h"), 64).fold(ra, rb)
      .select(col("h"), col("base_docs"))

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.sources.Bucketing.writeBucketedExternal(
        merged, s"$tmp/m", Seq("h"), n, aligned = true)
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      val writePlans = plans.toArray(Array.empty[QueryExecution])
      assert(writePlans.nonEmpty, "no insert QueryExecution captured")
      writePlans.foreach { qe =>
        val shuffles = qe.executedPlan.collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.isEmpty,
          s"aligned bucketed write must not shuffle:\n${qe.executedPlan}")
      }
    } finally spark.listenerManager.unregister(listener)

    // the aligned layout is a real bucketed table: re-read and verify
    // content equals the merge input
    val rm = graft.sources.Bucketing.readBucketed(spark, s"$tmp/m", Seq("h"), ddl, n)
    assert(rm.count() === 750L)
    assert(rm.filter(size(col("base_docs")) === 2).count() === 250L)
  }

  test("stream_substr_ingest micro-batch union is byte-identical to the batch append") {
    val batch = SparkEntry.queries("dedup_substring_index_append")(
      spark, TestSpark.Sf).collect().toSeq
    val streamed = SparkEntry.queries("stream_substr_ingest")(
      spark, TestSpark.Sf).collect().toSeq
    assert(streamed === batch,
      s"replay must reproduce the batch verdicts; " +
        s"batch=${batch.take(2)} streamed=${streamed.take(2)}")
    assert(batch.nonEmpty)
  }

  test("index_maintenance_plan flips to compact_now on a crosser-heavy corpus") {
    // 60 identical docs in base + 60 in seg1: every minhash band bucket
    // and every substring window is under its cap per segment (60) but
    // over it merged (120 > 100 bucket cap, > 64 df cap) — the exact
    // silent-degradation state the advisory exists to catch
    val text = (1 to 60).map(i => s"crosser$i").mkString(" ")
    val tmp = corpusDir("graft-maint",
      (0L until 60L).map(i => (i * 10L) -> text) ++       // % 10 == 0 → base
        (0L until 60L).map(i => (i * 10L + 8L) -> text))  // % 10 == 8 → seg1
    val plan = SparkEntry.queries("index_maintenance_plan")(spark, tmp)
      .collect().map(r => r.getString(0) -> (r.getLong(4), r.getString(6)))
      .toMap
    assert(plan.keySet === Set("cdc", "minhash", "substring"))
    assert(plan("minhash")._1 > 0 && plan("minhash")._2 === "compact_now",
      s"minhash: ${plan("minhash")}")
    assert(plan("substring")._1 > 0 && plan("substring")._2 === "compact_now",
      s"substring: ${plan("substring")}")
    // identical text in both tiers → shared chunks → cdc flips too
    assert(plan("cdc")._2 === "compact_now", s"cdc: ${plan("cdc")}")
  }
}
