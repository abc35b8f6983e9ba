package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 additions: the minhash index LSM lifecycle (exchange-free
  * probes + merge-closed compaction); the rest of the round's LSM cases
  * live in StoredIndexSpec.
  */
class Round15AdditionsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("mergedBandBuckets is CLOSED under merge: stored-segment fold == from-scratch rebuild") {
    val s = spark
    import s.implicits._
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    // shapes that exercise every merge branch:
    //  - 60 + 60 identical docs: under cap in each segment, hot merged
    //    (the cap CROSSER the per-segment cap hides)
    //  - 101 identical in base: hot in one segment already
    //  - disjoint cold buckets that simply concat
    val t1 = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val t2 = (1 to 40).map(i => s"beta$i").mkString(" ")
    val t3 = (1 to 40).map(i => s"gamma$i").mkString(" ")
    val base = docs(
      (0L until 60L).map(i => i -> t1) ++
        (100L until 201L).map(i => i -> t2) ++ Seq(300L -> t3))
    val seg = docs(
      (1000L until 1060L).map(i => i -> t1) ++
        Seq(1100L -> t2, 1200L -> t3))
    def bidx(d: DataFrame) = operators.Dedup.minhashBidxOf(
      operators.Dedup.minhashBandsOf(d, 64, persistSigs = false)._2)

    // the band-bucket table's merge: the capped fold keyed by (band, bh)
    val bb = bidx(base)
    val merged = operators.Dedup.MinhashTier.tables.last.merge.fold(bb, bidx(seg))
      .select(col("band"), col("bh"), col("base_docs"))
    val rebuilt = bidx(base.unionByName(seg))

    def canon(df: DataFrame) =
      df.select(col("band"), col("bh"),
          to_json(col("base_docs")).as("ds"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .toSet
    val m = canon(merged)
    val r = canon(rebuilt)
    assert(m === r,
      s"merge must equal rebuild; only-in-merge=${(m -- r).take(3)} " +
        s"only-in-rebuild=${(r -- m).take(3)}")
    // and the crosser shape really is present: t1's buckets are hot
    // merged (120 docs) though cold (60) in each input
    assert(merged.filter(size(col("base_docs")) === 0).count() > 0)
    assert(bb.filter(size(col("base_docs")) === 60).count() > 0)
  }

  test("stored compacted minhash layout == from-scratch build over base ∪ seg1 docs") {
    StoredIndexChecks.assertStoredCompactMatchesRebuild(spark, operators.Dedup.MinhashTier)
  }

  test("round-15 probes read bucketed indexes: no Exchange on the index side") {
    StoredIndexChecks.assertNoIndexSideExchange(spark, Seq(
      "dedup_minhash_index_append", "dedup_minhash_index_compact",
      "cdc_store_append", "cdc_store_compact", "index_maintenance_plan"))
  }
}
