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

  /** Write `df` as an 8-bucket external table under a fresh temp dir;
    * returns its catalog name.
    */
  private def bucketed(df: org.apache.spark.sql.DataFrame, key: String): String = {
    val path = java.nio.file.Files.createTempDirectory("graft-bucketed").toString + "/t"
    Bucketing.writeBucketedExternal(df, path, Seq(key), 8)
    Bucketing.tableNameFor(path)
  }

  test("bucketed join plans without exchanges and matches the plain join") {
    val li  = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val ord = Tables.orders(spark, TestSpark.Sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val liB  = bucketed(li, "l_orderkey")
    val ordB = bucketed(ord, "o_orderkey")
    try {
      // broadcast would bypass the bucketing entirely at this test scale
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (lb, ob) = (spark.table(liB), spark.table(ordB))
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
      spark.sql(s"DROP TABLE IF EXISTS $liB")
      spark.sql(s"DROP TABLE IF EXISTS $ordB")
    }
  }

  test("aggregation on the bucket key is also exchange-free") {
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_quantity")
    val liB = bucketed(li, "l_orderkey")
    try {
      val agg = spark.table(liB)
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("qty"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed groupBy must reuse the write-time layout:\n$plan")
      val expected = li.groupBy("l_orderkey")
        .agg(sum("l_quantity")).count()
      assert(agg.count() === expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $liB")
  }
}
