package graft

import graft.sources.Ingest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Ingest pipeline: JSON round-trip with explicit schema, partitioned
  * parquet layout, and partition-pruned entity reads (the reference's
  * HBase prefix-scan analog).
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("multiline JSON ingest round-trips with explicit schema (S1/S3/S13)") {
    val dir   = Files.createTempDirectory("graft-json").toFile
    dir.deleteOnExit()
    val events = Tables.events(spark, TestSpark.Sf)
    events.coalesce(1).write.mode("overwrite").json(dir.getAbsolutePath + "/json")
    val back = spark.read.schema(events.schema).json(dir.getAbsolutePath + "/json")
    assert(back.count() === events.count())
    assert(back.schema === events.schema)
  }

  test("partitioned write + entity read prunes partitions (S5/S8/O4)") {
    val dir = Files.createTempDirectory("graft-part").toFile
    dir.deleteOnExit()
    val path   = dir.getAbsolutePath + "/events_by_user"
    val events = Tables.events(spark, TestSpark.Sf)
    Ingest.writePartitioned(events, path, "user_id", "ts", buckets = 8)

    val one  = Ingest.readEntity(spark, path, "user_id", 42L, buckets = 8)
    val want = events.filter(col("user_id") === 42).count()
    assert(one.count() === want)

    // partition pruning visible in the scan: only bucket=2 is read
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"no partition filters in:\n$scan")
    val pruned = spark.read.parquet(path).filter(col("bucket") === 2)
    assert(pruned.rdd.getNumPartitions <= spark.read.parquet(path).rdd.getNumPartitions)
  }

  test("session-doc round trip preserves every nested entity exactly (S13)") {
    // the stored round-trip parquet (chunked JSON-array files → schema'd
    // read → parquet) must equal the source-derived docs row for row —
    // nested page_views array, viewed_products, and the cart MAP included
    val store = Ingest.roundtripStore(spark, TestSpark.Sf)
    val back  = store.read(spark, "store")
    assert(back.schema === Ingest.SessionDocSchema)
    val src = Ingest.sessionDocs(spark, TestSpark.Sf)
    assert(back.count() === src.count())
    // maps don't order deterministically — compare with the map exploded
    // to sorted entries
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("cart_entries",
        sort_array(expr(
          "transform(map_keys(cart_contents), k -> struct(k AS k, cart_contents[k] AS v))")))
      .drop("cart_contents")
      .orderBy("user_id")
      .collect().toSeq
    assert(canon(back) === canon(src))
    // the published files really are multiline JSON ARRAYS (the
    // generator's chunk format), one array per chunk file
    val jsonDir = new java.io.File(store.dir, "json")
    val chunks = jsonDir.listFiles().filter(_.getName.endsWith(".txt"))
    assert(chunks.nonEmpty)
    chunks.foreach { f =>
      val txt = Files.readString(f.toPath).trim
      assert(txt.startsWith("[") && txt.endsWith("]"), s"${f.getName} not a JSON array")
    }
  }

  test("malformed JSON rows are skipped, not fatal (defensive-skip parity)") {
    // reference's loader counts `skipped` rows and continues
    // (load_hbase_sessions_stream.py:85–95); Spark analog: PERMISSIVE
    // mode + corrupt-record column
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-badjson").toFile
    dir.deleteOnExit()
    val f = new java.io.PrintWriter(dir.getAbsolutePath + "/data.json")
    f.println("""{"id": 1, "v": 10.5}""")
    f.println("""{"id": broken not json""")
    f.println("""{"id": 3, "v": 2.25}""")
    f.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.getAbsolutePath)
      .cache()
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    assert(df.filter(col("id").isNotNull).count() === 2)
    df.unpersist()
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val wh = Files.createTempDirectory("graft-wh").toFile
    wh.deleteOnExit()
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val o = Tables.orders(spark, TestSpark.Sf).select("o_orderkey", "o_custkey")
    li.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", wh.getAbsolutePath + "/li_b")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", wh.getAbsolutePath + "/o_b")
      .saveAsTable("o_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so bucketing is what avoids the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(
          spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }
}
