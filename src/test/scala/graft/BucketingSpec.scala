package graft

import graft.sources.Bucketing
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-table co-location: the join of two tables bucketed on the
  * join key (same bucket count, sorted buckets) must plan with ZERO
  * exchanges — the 100 TB pattern where the shuffle is paid once at
  * write time. Result parity is asserted against the plain join.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed join plans without exchanges and matches the plain join") {
    val li  = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val ord = Tables.orders(spark, TestSpark.Sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Bucketing.writeBucketed(li, "li_b", "l_orderkey", 8)
    Bucketing.writeBucketed(ord, "ord_b", "o_orderkey", 8)
    try {
      // broadcast would bypass the bucketing entirely at this test scale
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (lb, ob) = (spark.table("li_b"), spark.table("ord_b"))
        val joined = lb.join(ob, lb("l_orderkey") === ob("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle either side:\n$plan")
        val expected = li
          .join(ord, li("l_orderkey") === ord("o_orderkey"))
          .count()
        assert(joined.count() === expected)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("compaction shrinks file count, preserves rows, swaps atomically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/events"
    val ev = Tables.events(spark, TestSpark.Sf)
    ev.repartition(40).write.parquet(path) // simulate sink accretion
    val rowsBefore = spark.read.parquet(path).count()
    val (before, after) =
      graft.sources.Bucketing.compact(spark, path, targetBytes = 64L << 20)
    assert(before >= 40, s"fixture should start fragmented, had $before")
    assert(after < before && after >= 1, s"$before -> $after files")
    assert(spark.read.parquet(path).count() === rowsBefore)
    // no residue from the swap
    assert(!new java.io.File(path + "._compacting").exists())
    assert(!new java.io.File(path + "._precompact").exists())
  }

  test("aggregation on the bucket key is also exchange-free") {
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_quantity")
    Bucketing.writeBucketed(li, "li_agg_b", "l_orderkey", 8)
    try {
      val agg = spark.table("li_agg_b")
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("qty"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed groupBy must reuse the write-time layout:\n$plan")
      val expected = li.groupBy("l_orderkey")
        .agg(sum("l_quantity")).count()
      assert(agg.count() === expected)
    } finally spark.sql("DROP TABLE IF EXISTS li_agg_b")
  }
}
