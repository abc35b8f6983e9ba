package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Structured Streaming: the same transforms must produce the batch
  * answer when driven through a file-source stream.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def streamedCounts(): Array[(String, Long)] = {
    // copy events.parquet into a temp dir to act as a file-source stream
    val dir = Files.createTempDirectory("graft-stream").toFile
    dir.deleteOnExit()
    val batch = Tables.events(spark, TestSpark.Sf)
    batch.write.mode("overwrite").parquet(dir.getAbsolutePath)

    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(dir.getAbsolutePath)
    val q = EventStreams
      .tumblingCounts(stream, "1 day", "0 seconds")
      .select(col("window.start").as("ws"), col("event_type"), col("n_events"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_counts")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.sql("SELECT event_type, sum(n_events) FROM stream_counts GROUP BY 1 ORDER BY 1")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
  }

  test("streaming tumbling counts equal the batch result") {
    val streamed = streamedCounts()
    val batch = EventStreams
      .tumblingCounts(Tables.events(spark, TestSpark.Sf), "1 day", "0 seconds")
      .groupBy("event_type")
      .agg(sum("n_events").as("n"))
      .orderBy("event_type")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(streamed.toSeq === batch.toSeq)
  }

  test("native session windows close identically in stream and batch") {
    val dir = Files.createTempDirectory("graft-stream-sesswin").toFile
    dir.deleteOnExit()
    val raw = Tables.events(spark, TestSpark.Sf)
    val minTs  = raw.agg(min(col("ts"))).collect().head.getLong(0)
    val cutoff = minTs + 45L * 86400 * 1000000L // ts is epoch-µs
    raw.filter(col("ts") < cutoff).coalesce(1)
      .write.parquet(dir.getAbsolutePath + "/src/f1")
    raw.filter(col("ts") >= cutoff).coalesce(1)
      .write.parquet(dir.getAbsolutePath + "/src/f2")
    def prep(df: org.apache.spark.sql.DataFrame) = df.select(
      col("user_id"),
      expr("timestamp_micros(ts)").as("t"),
      col("value"))
    val stream = spark.readStream
      .schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath + "/src/f*")
    val q = graft.operators.Engagement
      .sessionWindowAgg(prep(stream).withWatermark("t", "0 seconds"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("closed_session_windows")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val closed = spark.sql("SELECT * FROM closed_session_windows")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val batchAll = graft.operators.Engagement
      .sessionWindowAgg(prep(raw))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(closed.nonEmpty, "watermark advance must close sessions")
    // every closed streaming session is byte-identical to its batch twin
    closed.foreach { case (k, v) =>
      assert(batchAll.contains(k), s"streamed session $k unknown to batch")
      assert(batchAll(k) === v, s"session $k diverged: $v vs ${batchAll(k)}")
    }
  }

  test("stream-stream interval join matches the batch pair count") {
    val dir = Files.createTempDirectory("graft-stream-join").toFile
    dir.deleteOnExit()
    val batch = Tables.events(spark, TestSpark.Sf)
    batch.write.mode("overwrite").parquet(dir.getAbsolutePath)
    def side(t: String) = spark.readStream
      .schema(batch.schema)
      .parquet(dir.getAbsolutePath)
      .filter(col("event_type") === t)
    val q = EventStreams
      .viewClickPairs(side("view"), side("click"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("vc_pairs")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT count(*) FROM vc_pairs").collect().head.getLong(0)
    val expected = EventStreams
      .viewClickPairs(
        batch.filter(col("event_type") === "view"),
        batch.filter(col("event_type") === "click"))
      .count()
    assert(streamed === expected && expected > 0)
  }

  test("sliding windows in streaming mode count each event twice") {
    val dir = Files.createTempDirectory("graft-stream-slide").toFile
    dir.deleteOnExit()
    val batch = Tables.events(spark, TestSpark.Sf)
    batch.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val stream = spark.readStream.schema(batch.schema).parquet(dir.getAbsolutePath)
    val q = EventStreams
      .withEventTime(stream)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_sliding")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val total = spark.sql("SELECT sum(n_events) FROM stream_sliding").collect().head.getLong(0)
    assert(total === 2 * batch.count())
  }

  test("session windows run in streaming mode with state") {
    val dir = Files.createTempDirectory("graft-stream-sess").toFile
    dir.deleteOnExit()
    val batch = Tables.events(spark, TestSpark.Sf)
    batch.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val stream = spark.readStream.schema(batch.schema).parquet(dir.getAbsolutePath)
    val q = EventStreams
      .sessionWindows(stream, "12 hours", "1 hour")
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_sessions")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = spark.sql("SELECT sum(n_events) FROM stream_sessions").collect().head.getLong(0)
    assert(n === batch.count())
  }

  test("manifest view: an empty first batch commits a readable empty view") {
    // batch 0 of a rate stream routinely carries zero rows — the commit
    // must still advance and readers must see an EMPTY view, not a
    // no-paths read crash
    val dir = Files.createTempDirectory("graft-manifest-empty").toFile
    dir.deleteOnExit()
    val viewDir = dir.getAbsolutePath + "/view"
    val none = Tables.events(spark, TestSpark.Sf).limit(0)
    EventStreams.mergeManifestBatch(none, viewDir, buckets = 8, batchId = 0)
    assert(EventStreams.readManifest(viewDir)._1 === 0)
    val view = EventStreams.manifestView(spark, viewDir)
    assert(view.count() === 0)
    assert(view.columns.toSeq ===
      Seq("user_id", "n_events", "total_value", "bkt"))
    // and the next (non-empty) batch merges on top of the empty commit
    EventStreams.mergeManifestBatch(
      Tables.events(spark, TestSpark.Sf), viewDir, buckets = 8, batchId = 1)
    assert(EventStreams.manifestView(spark, viewDir).count() > 0)
  }

  test("manifest view: crash between bucket write and commit never tears the view") {
    val dir = Files.createTempDirectory("graft-stream-manifest").toFile
    dir.deleteOnExit()
    val viewDir = dir.getAbsolutePath + "/view"
    val events  = Tables.events(spark, TestSpark.Sf)
    def snap(): Map[Long, (Long, java.math.BigDecimal)] =
      EventStreams.manifestView(spark, viewDir).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("n_events"), r.getAs[java.math.BigDecimal]("total_value"))))
        .toMap

    EventStreams.mergeManifestBatch(events, viewDir, buckets = 16, batchId = 0)
    assert(EventStreams.readManifest(viewDir)._1 === 0)
    val view0 = snap()
    assert(view0.nonEmpty)

    // batch 1 crashes AFTER its multi-bucket data write, BEFORE commit —
    // the widest torn-view window the protocol has
    intercept[RuntimeException] {
      EventStreams.mergeManifestBatch(
        events, viewDir, 16, 1, () => throw new RuntimeException("injected crash"))
    }
    // the manifest still names batch 0's versions: readers see the OLD
    // view, complete and consistent — not a mix of old and new buckets
    assert(EventStreams.readManifest(viewDir)._1 === 0)
    assert(snap() === view0, "crash mid-commit must not change the visible view")

    // the replayed batch completes and merges EXACTLY once (the crashed
    // attempt's half-written v=1 dir is clobbered, not double-merged)
    EventStreams.mergeManifestBatch(events, viewDir, 16, 1)
    val (committed1, manifest1) = EventStreams.readManifest(viewDir)
    assert(committed1 === 1)
    // superseded versions are pruned: batch 1 touched every bucket, so
    // the v=<n> dirs on disk are exactly the versions the manifest
    // names — v=1 alone, batch 0's dir is gone
    val onDisk = new java.io.File(viewDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong).toSet
    assert(onDisk === manifest1.values.toSet)
    assert(onDisk === Set(1L))
    val view1 = snap()
    view0.foreach { case (u, (n0, _)) =>
      assert(view1(u)._1 === 2 * n0, s"user $u merged other than exactly twice")
    }

    // re-delivery of an already-committed batch is skipped outright
    EventStreams.mergeManifestBatch(events, viewDir, 16, 1)
    assert(snap() === view1)
  }

  test("manifest view: streaming convergence, O(touched) versioning") {
    val dir = Files.createTempDirectory("graft-stream-manifest2").toFile
    dir.deleteOnExit()
    val viewDir = dir.getAbsolutePath + "/view"
    val batch = Tables.events(spark, TestSpark.Sf)
    val oneUser = batch.select(col("user_id")).limit(1)
      .collect().head.getLong(0)
    batch.filter(col("user_id") =!= oneUser)
      .coalesce(1).write.parquet(dir.getAbsolutePath + "/src/f1")
    batch.filter(col("user_id") === oneUser)
      .coalesce(1).write.parquet(dir.getAbsolutePath + "/src/f2")
    val stream = spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath + "/src/f*")
    val q = stream.writeStream
      .outputMode("update")
      .foreachBatch { (b: Dataset[Row], batchId: Long) =>
        EventStreams.mergeManifestBatch(b.toDF(), viewDir, buckets = 16, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // converges to the batch aggregate through the manifest read path
    val view = EventStreams.manifestView(spark, viewDir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toMap
    val expected = batch.groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(view === expected)
    // O(touched): batch 1 carried ONE user, so exactly one bucket moved
    // to version 1 — every other bucket still reads from version 0
    val (committed, manifest) = EventStreams.readManifest(viewDir)
    assert(committed === 1)
    val hotBkt = spark.range(1)
      .select(pmod(hash(lit(oneUser)), lit(16))).collect().head.getInt(0)
    assert(manifest(hotBkt) === 1L)
    manifest.filter(_._1 != hotBkt).values.foreach(v => assert(v === 0L))
  }
}
