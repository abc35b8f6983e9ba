package graft

import graft.tools.QueryRecorder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The recorder Bench and the dev tools share: each record carries only
  * the jobs its own query launched, construction jobs are told apart
  * from the final write's, and counters are complete when `run` returns.
  */
class QueryRecorderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("back-to-back records keep their own counters; construction jobs are billed as such") {
    val projection: QueryRecorder.QueryFn =
      (s, _) => s.range(1000).select((col("id") * 2).as("x"))
    val grouped: QueryRecorder.QueryFn = (s, _) => {
      // a job fired while the frame is built, like an eager sizing count
      val n = s.range(50).count()
      s.range(1000).groupBy((col("id") % n).as("k")).count()
    }
    val Seq(first, second, third) = QueryRecorder.using(spark) { rec =>
      Seq("projection" -> projection, "grouped" -> grouped, "projection_again" -> projection)
        .map { case (n, fn) => rec.run(n, TestSpark.Sf, fn) }
    }
    Seq(first, second, third).foreach { r =>
      assert(r.error.isEmpty, r.name)
      assert(r.wallS >= r.constructS && r.constructS >= 0.0, r.name)
      assert(r.jobs >= 1 && r.stages.nonEmpty, r.name)
    }
    assert(second.shuffleWriteBytes > 0L, "the groupBy shuffles")
    // neither neighbour of the shuffling query sees its exchange
    assert(first.shuffleWriteBytes === 0L && third.shuffleWriteBytes === 0L)
    assert(first.jobs === third.jobs && first.stages.size === third.stages.size)
    assert(first.constructJobs === 0 && third.constructJobs === 0)
    // the count() inside construction (an adaptive count runs as a map
    // stage job plus a result job)
    assert(second.constructJobs >= 1)
    assert(second.jobs > second.constructJobs, "the write's own jobs")
    assert(second.stages.size > first.stages.size)
  }

  test("counters are complete when run returns, even behind a slow listener") {
    // listener delivery is asynchronous: a listener ahead of the
    // recorder's on the bus delays every stage event it sees
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = Thread.sleep(300)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      val grouped: QueryRecorder.QueryFn =
        (s, _) => s.range(1000).groupBy((col("id") % 7).as("k")).count()
      val r = QueryRecorder.using(spark)(_.run("grouped", TestSpark.Sf, grouped))
      assert(r.stages.size >= 2 && r.shuffleWriteBytes > 0L, r)
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("a throwing query comes back as an error record, not an exception") {
    val broken: QueryRecorder.QueryFn = (_, _) => throw new IllegalStateException("boom")
    val r = QueryRecorder.using(spark)(_.run("broken", TestSpark.Sf, broken))
    assert(r.error.map(_.getMessage) === Some("boom"))
    assert(r.jobs === 0 && r.stages.isEmpty)
  }
}
