package graft

import graft.operators.Warehouse
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the warehouse-maintenance tier — properties the
  * hash-compare can't see: merge conservation, PPS design guarantees,
  * sketch-merge equivalence, spine density.
  */
class WarehouseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir        = "/root/testdata/sf0.001"

  test("merge_upsert conserves totals and classifies every key") {
    val merged = Warehouse.mergeUpsert(spark, dir).cache()
    val orders = Tables.orders(spark, dir)
    // conservation: merged partials must add up to the raw fact totals
    assert(
      merged.agg(sum(col("n_orders"))).first().getLong(0) === orders.count())
    val rawTotal = orders
      .agg(sum(col("o_totalprice").cast(Det.Money)).cast("double"))
      .first()
      .getDouble(0)
    val mergedTotal =
      merged.agg(sum(col("total_spent"))).first().getDouble(0)
    assert(math.abs(mergedTotal - rawTotal) < 0.01 * merged.count())
    // every customer with any order appears exactly once, classified
    val nKeys = orders.select(col("o_custkey")).distinct().count()
    assert(merged.count() === nKeys)
    val ops = merged.groupBy(col("op")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops.keySet.subsetOf(Set("insert", "update", "carry")))
    assert(ops.values.sum === nKeys)
    merged.unpersist()
  }

  test("gap_fill_locf emits a dense spine with LOCF semantics") {
    val out = Warehouse.gapFillLocf(spark, dir).cache()
    // dense: |nations| x |days of March 1995|
    assert(out.count() === 25L * 31L)
    // LOCF: a zero-order day carries the previous day's revenue forward
    val rows = out
      .filter(col("n_name") === out.select(col("n_name")).first().getString(0))
      .orderBy(col("day"))
      .collect()
    rows.sliding(2).foreach {
      case Array(prev, cur) =>
        if (cur.getLong(2) == 0L) // n_orders == 0 -> rev_locf unchanged
          assert(
            (cur.isNullAt(3) && prev.isNullAt(3)) ||
              cur.getDouble(3) === prev.getDouble(3))
      case _ => ()
    }
    out.unpersist()
  }

  test("sample_weighted_pps draws exactly k with increasing sample_idx") {
    val s = Warehouse.sampleWeightedPps(spark, dir).collect()
    assert(s.length === 50)
    val idx = s.map(_.getLong(3))
    assert(idx.toSeq === idx.sorted.toSeq)
    assert(idx.distinct.length === idx.length) // one doc per sample point
    // weights positive; cum strictly increasing in emitted order
    assert(s.forall(_.getLong(1) > 0))
    val cums = s.map(_.getLong(2))
    assert(cums.toSeq === cums.sorted.toSeq)
  }

  /** Write a (doc_id, n_chars) corpus as a documents.parquet-shaped dir
    * so sampleWeightedPps runs end-to-end on synthetic weights.
    */
  private def writeWeights(weights: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pps").toFile
    dir.deleteOnExit()
    weights.toDF("doc_id", "n_chars")
      .withColumn("text", lit("x"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("fixture"))
      .write.mode("overwrite")
      .parquet(dir.getAbsolutePath + "/documents.parquet")
    dir.getAbsolutePath
  }

  /** The engine's portable hash, reproduced in plain JVM code: first 15
    * hex chars of md5(doc_id as string), parsed base-16.
    */
  private def portableHash(docId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(docId.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** BigInt reference of the systematic-PPS crossing test over the same
    * hash-ordered line: (doc_id, w, cum, idx) of every selected doc.
    */
  private def ppsReference(weights: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long)] = {
    val k = Warehouse.PpsK
    val total = BigInt(weights.map(_._2).sum)
    var cum = BigInt(0)
    weights.sortBy(t => portableHash(t._1)).flatMap { case (id, w) =>
      cum += w
      val hi = cum * k / total
      val lo = (cum - w) * k / total
      if (hi > lo) Some((id, w, cum.toLong, hi.toLong)) else None
    }
  }

  test("PPS stride boundary: a weight above the stride absorbs multiple sample points") {
    // 200 light docs (w=10) + one heavy doc whose segment (w=3000) spans
    // 3000/(5000/50) = 30 sample points: selected once, and the total
    // crossing count over the whole line is still exactly k
    val weights = (1L to 200L).map(i => (i, 10L)) :+ (999999L, 3000L)
    val out = Warehouse.sampleWeightedPps(spark, writeWeights(weights)).collect()
    val k = Warehouse.PpsK
    val total = BigInt(weights.map(_._2).sum)
    assert(out.map(_.getLong(0)).contains(999999L), "heavy doc must be sampled")
    assert(out.length < k, "multi-point segments emit once -> fewer than k rows")
    // crossing multiplicities over selected rows must sum to exactly k
    val crossings = out.map { r =>
      val w = BigInt(r.getLong(1)); val cum = BigInt(r.getLong(2))
      (cum * k / total - (cum - w) * k / total).toLong
    }
    assert(crossings.sum === k.toLong)
    assert(out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      === ppsReference(weights))
  }

  test("PPS integer crossing survives cum*k beyond 2^53 (double math would round)") {
    // 64 seeded weights in [2^50, 2^51): cum*k reaches ~5e18, where a
    // double quotient has 1024-ulp spacing — only exact 64-bit integer
    // division reproduces the BigInt reference bit for bit
    val rnd = new scala.util.Random(42)
    val weights = (1L to 64L).map { i =>
      (i, (1L << 50) + (rnd.nextLong() & ((1L << 50) - 1)))
    }
    val total = weights.map(_._2).sum
    assert(total <= Long.MaxValue / Warehouse.PpsK, "fixture must respect the overflow guard")
    val out = Warehouse.sampleWeightedPps(spark, writeWeights(weights))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === ppsReference(weights))
  }

  test("PPS exact-boundary landing: uniform weights select every doc exactly once") {
    // 50 docs of weight exactly one stride: every segment END lands on a
    // sample point (cum*k == m*total), pinning the >-vs->= convention
    val weights = (1L to 50L).map(i => (i, 100L))
    val out = Warehouse.sampleWeightedPps(spark, writeWeights(weights)).collect()
    assert(out.length === 50)
    assert(out.map(_.getLong(3)).toSeq === (1L to 50L))
    assert(out.map(_.getLong(0)).toSet === (1L to 50L).toSet)
  }

  test("merge against a bucketed snapshot shuffles only the delta") {
    // the real MERGE INTO deployment shape: the snapshot table is stored
    // bucketed by the merge key, so the periodic merge re-shuffles ONLY
    // the (small) delta — the snapshot's shuffle was paid once at write
    val orders = Tables.orders(spark, dir)
    val cut    = "1997-01-01"
    def partial(f: org.apache.spark.sql.DataFrame) =
      f.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast(Det.Money)).as("v"))
    val snapDf = partial(orders.filter(col("o_orderdate") < cut))
    val snapPath =
      java.nio.file.Files.createTempDirectory("graft-wh-snap").toString + "/snap"
    graft.sources.Bucketing.writeBucketedExternal(snapDf, snapPath, Seq("o_custkey"), 8)
    val snapB = graft.sources.Bucketing.tableNameFor(snapPath)
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val savedBc  = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val delta = partial(orders.filter(col("o_orderdate") >= cut))
        .withColumnRenamed("n", "nd").withColumnRenamed("v", "vd")
      val merged =
        spark.table(snapB).join(delta, Seq("o_custkey"), "full_outer")
      val plan = merged.queryExecution.executedPlan
      val smjs = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smjs.nonEmpty, s"expected a sort-merge join:\n$plan")
      val shufflesOn = (side: org.apache.spark.sql.execution.SparkPlan) =>
        side.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
        }
      assert(shufflesOn(smjs.head.left).isEmpty,
        s"bucketed snapshot side must not re-shuffle:\n$plan")
      assert(shufflesOn(smjs.head.right).nonEmpty,
        "the delta side is the one expected to shuffle")
      assert(merged.count() ===
        snapDf.join(delta, Seq("o_custkey"), "full_outer").count())
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.sql(s"DROP TABLE IF EXISTS $snapB")
    }
  }

  test("scd2 point-in-time join covers every fact exactly once") {
    val orders = Tables.orders(spark, dir)
    val versions = graft.operators.Pipeline.scd2History(spark, dir)
      .select(col("custkey"), col("attr"), col("valid_from"), col("valid_to"))
    val facts = orders.select(
      col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"))
    val matched = facts.join(
      versions,
      facts("o_custkey") === versions("custkey") &&
        col("valid_from") <= col("dt") &&
        (col("valid_to").isNull || col("dt") < col("valid_to")))
    // exactly-one semantics: same-day version openings collapse to empty
    // intervals, so the match count equals the fact count — no order is
    // dropped, none is duplicated
    assert(matched.count() === orders.count())
  }

  test("generic funnelDepths matches the chained-min dataflow on other step lists") {
    import org.apache.spark.sql.DataFrame
    val T = 7L * 86400L * 1000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").as("us"), col("event_type").as("et"))
      .cache()
    // independent formulation: dependent minimums via joins (the oracle
    // shape), for an arbitrary step list
    def chained(steps: Seq[String]): Map[Long, Int] = {
      val users = ev.select(col("user_id")).distinct()
      var anchor: DataFrame = null // (user_id, t1)
      var prev: DataFrame   = null // (user_id, t_i)
      var depths = users.select(col("user_id"), lit(0).as("d"))
      steps.zipWithIndex.foreach { case (s, i) =>
        val cand = ev.filter(col("et") === s)
        val step =
          if (i == 0) cand.groupBy(col("user_id")).agg(min(col("us")).as("t"))
          else
            cand
              .join(prev.withColumnRenamed("t", "tp"), "user_id")
              .join(anchor.withColumnRenamed("t", "t1"), "user_id")
              .filter(col("us") > col("tp") && col("us") <= col("t1") + T)
              .groupBy(col("user_id"))
              .agg(min(col("us")).as("t"))
        if (i == 0) anchor = step
        prev = step
        depths = depths
          .join(step.select(col("user_id"), lit(i + 1).as("di")), Seq("user_id"), "left")
          .select(col("user_id"), coalesce(col("di"), col("d")).as("d"))
      }
      depths.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    for (steps <- Seq(
        Seq("signup", "purchase"),
        Seq("view", "click", "purchase", "error"))) {
      val generic = graft.operators.Retention.funnelDepths(ev, steps, T)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(generic === chained(steps), s"steps=$steps")
    }
    ev.unpersist()
  }

  test("rolling_distinct_kmv merged partials match the direct sketch") {
    val out = Warehouse.rollingDistinctKmv(spark, dir).cache()
    assert(out.count() >= 7) // a month of days
    // below k distinct the KMV estimate IS the exact count — at sf0.001
    // windows are small, so est == exact wherever distinct < 256
    out.collect().foreach { r =>
      val exact = r.getLong(1)
      if (exact < 256) assert(r.getDouble(2) === exact.toDouble)
      else assert(math.abs(r.getDouble(2) - exact) / exact < 0.25)
    }
    out.unpersist()
  }
}
