package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Unbounded-source streaming via the deterministic `rate-micro-batch`
  * source: exercises what file-replay cannot — a REAL checkpointed
  * restart of a continuously-running query (offset recovery plus the
  * foreachBatch re-delivery guard on an actual Spark checkpoint), and
  * watermark-driven state eviction across dozens of micro-batches. The
  * long-form soak (latency/state tables in BASELINE.md) is
  * tools.StreamSoak; this spec pins the correctness claims at CI speed.
  */
class RateSoakSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def awaitBatch(q: StreamingQuery, n: Long, timeoutMs: Long = 90000): Unit = {
    val t0 = System.currentTimeMillis()
    while ((Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < n) &&
      System.currentTimeMillis() - t0 < timeoutMs && q.isActive)
      Thread.sleep(100)
    assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= n,
      s"query did not reach batch $n within ${timeoutMs}ms")
  }

  /** Deterministic unbounded stream: 500 rows per micro-batch, event time
    * advancing 60 s per batch.
    */
  private def rateEvents(rowsPerBatch: Int, users: Long, advanceMs: Long) =
    EventStreams.rateToEvents(
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch.toString)
        .option("numPartitions", "2")
        .option("startTimestamp", "0")
        .option("advanceMillisPerBatch", advanceMs.toString)
        .load(),
      users)

  test("manifest view is exactly-once across a real checkpointed restart") {
    val base    = Files.createTempDirectory("graft-rate-view").toFile
    base.deleteOnExit()
    val viewDir = base.getAbsolutePath + "/view"
    val cp      = base.getAbsolutePath + "/cp"

    def start(): StreamingQuery =
      rateEvents(500, users = 37, advanceMs = 1000).writeStream
        .outputMode("update")
        .foreachBatch { (b: Dataset[Row], batchId: Long) =>
          EventStreams.mergeManifestBatch(b.toDF(), viewDir, buckets = 8, batchId)
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.ProcessingTime(0))
        .start()

    val q1 = start()
    awaitBatch(q1, 10)
    q1.stop(); q1.awaitTermination(30000)

    // restart from the SAME checkpoint: Spark recovers offsets and may
    // re-deliver the last epoch — the committed-batchId guard must skip
    // it rather than double-merge.
    val q2 = start()
    awaitBatch(q2, 18)
    q2.stop(); q2.awaitTermination(30000)

    val (committed, manifest) = EventStreams.readManifest(viewDir)
    assert(committed >= 18)
    // every batch is exactly 500 contiguous rate values, so an
    // exactly-once view holds precisely (committed+1)*500 events —
    // any loss or double-merge breaks the equality.
    val total = EventStreams.manifestView(spark, viewDir)
      .agg(sum(col("n_events"))).head.getLong(0)
    assert(total === (committed + 1) * 500)
    // and per-user totals are exact: value % 37 spreads 500 rows/batch
    // almost evenly; check against the closed form over all values.
    val n = (committed + 1) * 500
    val perUser = EventStreams.manifestView(spark, viewDir)
      .select(col("user_id"), col("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 37L).foreach { u =>
      val expect = n / 37 + (if (u < n % 37) 1 else 0)
      assert(perUser.getOrElse(u, 0L) === expect, s"user $u")
    }
    assert(manifest.keys.forall(b => b >= 0 && b < 8))
  }

  test("session-window state is watermark-bounded over many batches") {
    val base = Files.createTempDirectory("graft-rate-sess").toFile
    base.deleteOnExit()
    // event time advances 60 s per batch with a 30 s gap: every batch's
    // events form their own session per user, so 25 batches create ~250
    // sessions — but the 10 s watermark closes each one ~1 batch later,
    // so live state stays ~2 batches × 10 users, never O(batches).
    val q = EventStreams
      .sessionWindows(
        rateEvents(200, users = 10, advanceMs = 60000),
        gap = "30 seconds", watermark = "10 seconds")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("rate_sessions")
      .option("checkpointLocation", base.getAbsolutePath + "/cp")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    awaitBatch(q, 25)
    val stateSeries = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(p => p.batchId -> p.stateOperators.map(_.numRowsTotal).sum)
    q.stop(); q.awaitTermination(30000)

    val closed = spark.table("rate_sessions").count()
    assert(closed >= 100, s"only $closed sessions closed")
    // bounded: no observed state snapshot holds more than a few batches'
    // worth of sessions (10 users/batch; 50 = 5 batches of slack)
    val maxState = stateSeries.map(_._2).max
    assert(maxState <= 50, s"state grew to $maxState rows: $stateSeries")
    // sessions carry exact aggregates: every closed session has 20
    // events (200 rows / 10 users per batch-instant)
    val bad = spark.table("rate_sessions")
      .filter(col("n_events") =!= 20).count()
    assert(bad === 0)
  }
}
