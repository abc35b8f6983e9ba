package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset => CDataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RangeJoinRewrite: a pure band theta join must become a banded
  * equi-join (hash-partitionable) instead of a nested-loop join, with
  * results identical to the naive plan — including negative domains
  * (floor vs truncating division), strict bounds, and arithmetic on
  * either side of the comparison. Equi-keyed and unsatisfiable-band
  * joins must be left untouched.
  */
class RangeJoinRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Flag = "spark.graft.rangeJoinRewrite.enabled"

  private def physical(df: DataFrame): String =
    df.asInstanceOf[CDataset[Row]].queryExecution.executedPlan.toString

  private def withRuleOff[T](body: => T): T = {
    spark.conf.set(Flag, "false")
    try body
    finally spark.conf.set(Flag, "true")
  }

  /** Collect both plans' results as multisets and compare. */
  private def sameResults(build: => DataFrame): Unit = {
    val on  = build.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val off = withRuleOff(build.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap)
    assert(on == off, s"banded results differ from nested-loop results")
  }

  private def xs: DataFrame = (-50L to 50L).toDF("x")
  private def ys: DataFrame = (-60L to 60L).map(v => v * 7 % 23).toDF("y")

  test("band theta join is rewritten: no nested-loop join, band key present") {
    val p = physical(SparkEntry.queries("near_global_pairs")(spark, TestSpark.Sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join still nested-loop:\n$p")
    assert(p.contains("__graft_band"), s"band key missing from plan:\n$p")
    val naive = withRuleOff(
      physical(SparkEntry.queries("near_global_pairs")(spark, TestSpark.Sf)))
    assert(naive.contains("BroadcastNestedLoopJoin"),
      s"disabled-rule baseline should be the nested-loop plan:\n$naive")
  }

  test("registered query returns identical results with and without the rule") {
    sameResults(SparkEntry.queries("near_global_pairs")(spark, TestSpark.Sf))
  }

  test("long-boundary values neither overflow nor drop matches") {
    // bucket math must survive attributes clustered at a ±2^63 edge (the
    // xxhash64-key case): PAIR differences are small, so the user's own
    // band predicate is evaluable in any plan, but the rule's former
    // long-space base/shift arithmetic (x − pmod, rb + lo) threw an ANSI
    // overflow per ROW; the decimal bucket base must not. Clusters stay
    // separate — a cross-boundary pair would overflow the residual
    // y − x in the nested-loop baseline too, which is the user's bug,
    // not the rule's.
    def cluster(base: Long, dir: Long): Seq[Long] =
      (0L to 999L).map(k => base + dir * k)
    val lows  = cluster(Long.MinValue, +1L) // x − pmod(x, w) underflowed here
    val highs = cluster(Long.MaxValue, -1L) // rb + lo overflowed here
    for (vals <- Seq(lows, highs)) {
      val as = vals.toDF("x")
      val bs = vals.toDF("y")
      val build =
        as.join(bs, col("y") - col("x") >= 1L && col("y") - col("x") <= 100L)
      sameResults(build)
      val p = physical(build)
      assert(p.contains("__graft_band"), s"edge-domain join not rewritten:\n$p")
    }
  }

  test("negative domain: floor semantics of the bucket id are exact") {
    // x - y ∈ [-3, 7]: lower bound negative, values cross zero in both frames
    sameResults(
      xs.join(ys, col("x") - col("y") >= -3 && col("x") - col("y") <= 7))
    val p = physical(
      xs.join(ys, col("x") - col("y") >= -3 && col("x") - col("y") <= 7))
    assert(p.contains("__graft_band"), s"negative-domain band not rewritten:\n$p")
  }

  test("strict bounds and moved-term shapes normalize to the same band") {
    // y < x  AND  x <= y + 7   ≡   x - y ∈ [1, 7]
    sameResults(xs.join(ys, col("y") < col("x") && col("x") <= col("y") + 7))
    // literal on the attribute side: x + 2 >= y AND y >= x - 4  ≡ x - y ∈ [-2, 4]
    sameResults(xs.join(ys, col("x") + 2 >= col("y") && col("y") >= col("x") - 4))
  }

  test("equi-keyed joins are left untouched") {
    val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "t")
    val b = Seq((1L, 12L), (2L, 99L)).toDF("k2", "t2")
    val j = a.join(b,
      col("k") === col("k2") && col("t2") - col("t") >= 0 && col("t2") - col("t") <= 5)
    assert(!physical(j).contains("__graft_band"),
      "rule must not fire when an equi key already exists")
    assert(j.collect().toSeq == Seq(Row(1L, 10L, 1L, 12L)))
  }

  test("unsatisfiable band (upper < lower) is not rewritten and yields empty") {
    val j = xs.join(ys, col("x") - col("y") >= 8 && col("x") - col("y") <= 3)
    assert(!physical(j).contains("__graft_band"))
    assert(j.count() == 0)
  }

  test("point band (upper == lower) still joins correctly") {
    sameResults(xs.join(ys, col("x") - col("y") >= 4 && col("x") - col("y") <= 4))
  }
}
