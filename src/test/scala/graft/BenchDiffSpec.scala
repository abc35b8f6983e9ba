package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI guard for the round-over-round bench regression tool: runs
  * bench_diff.py's embedded selftest (regression threshold = factor x
  * AND absolute floor, improvement + added/removed reporting) and, when
  * local bench artifacts exist under bench/, diffs the most recent two
  * so a >2x per-query regression fails the suite instead of hiding in
  * BASELINE.md prose.
  */
class BenchDiffSpec extends AnyFunSuite {
  import scala.sys.process._

  test("a throwing query lands in failed[], not as a fake timing") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.lit
    val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(
        "ok_tiny" -> ((s, _) => s.range(10).toDF("n").withColumn("c", lit(1))),
        "broken"  -> ((_, _) => throw new IllegalStateException("deliberately broken")))
    val rep = Bench.runAll(spark, TestSpark.Sf, queries)
    assert(rep.ok.map(_.name) === Seq("ok_tiny"))
    assert(rep.failed.map(_._1) === Seq("broken"))
    assert(rep.failed.head._2.contains("deliberately broken"))
    // the JSON line must carry the verdict in its prefix and must not
    // contain a timing entry for the broken query
    val j = rep.json
    assert(j.indexOf("\"failed\":[\"broken\"]") >= 0 &&
      j.indexOf("\"failed\"") < j.indexOf("\"queries\""))
    assert(!j.contains("\"broken\":"))
    assert(j.contains("\"n_failed\":1"))
  }

  test("trailing summary line parses standalone and stays under 1 KB") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.lit
    val manyFailed: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq("ok_tiny" -> ((s: org.apache.spark.sql.SparkSession, _: String) =>
        s.range(3).toDF("n").withColumn("c", lit(1)))) ++
        (1 to 40).map(i => s"broken_query_with_a_long_name_$i" ->
          ((_: org.apache.spark.sql.SparkSession, _: String) =>
            throw new IllegalStateException("boom")))
    val rep = Bench.runAll(spark, TestSpark.Sf, manyFailed)
    val line = rep.summaryJson
    // the driver captures the last ~2000 chars of output — the summary
    // must fit with room for sbt's epilogue even with dozens of failures
    assert(line.length < 1024, s"summary too long (${line.length}): $line")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText() === "summary")
    assert(node.get("n_ok").asInt() === 1)
    assert(node.get("n_failed").asInt() === 40)
    assert(node.get("failed").size() === 8) // capped list, exact count
    assert(node.get("failed_truncated").asBoolean())
    assert(node.get("total_s").asDouble() >= 0.0)
    // and in the healthy case there is no truncation marker
    val healthy = Bench.runAll(spark, TestSpark.Sf, manyFailed.take(1)).summaryJson
    val h = new com.fasterxml.jackson.databind.ObjectMapper().readTree(healthy)
    assert(h.get("n_failed").asInt() === 0 && h.get("failed_truncated") == null)
  }

  test("worst10 line parses standalone, sorts desc, bounded for the tail window") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.lit
    val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      (1 to 14).map(i => s"q_with_a_reasonably_long_name_$i" ->
        ((s: org.apache.spark.sql.SparkSession, _: String) =>
          s.range(3).toDF("n").withColumn("c", lit(1))))
    val rep = Bench.runAll(spark, TestSpark.Sf, queries)
    val line = rep.worst10Json
    // worst10 + summary together must fit the driver's ~2000-char tail
    assert(line.length + rep.summaryJson.length < 1900,
      s"tail lines too long (${line.length} + ${rep.summaryJson.length})")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText() === "worst10")
    val items = node.get("items")
    assert(items.size() === 10) // capped at the 10 slowest of the 14
    val secs = (0 until items.size()).map(i => items.get(i).get("s").asDouble())
    assert(secs.sliding(2).forall(p => p.head >= p.last), s"not sorted desc: $secs")
    (0 until items.size()).foreach { i =>
      val it = items.get(i)
      assert(it.get("q") != null && it.get("gc") != null &&
        it.get("jit") != null && it.get("plan") != null)
    }
  }

  test("a query name carrying a quote/backslash round-trips the worst10 line") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.lit
    val nasty = "q\"with\\quote"
    val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(nasty -> ((s: org.apache.spark.sql.SparkSession, _: String) =>
        s.range(3).toDF("n").withColumn("c", lit(1))))
    val rep = Bench.runAll(spark, TestSpark.Sf, queries)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(rep.worst10Json) // must parse, not throw
    assert(node.get("items").get(0).get("q").asText() === nasty,
      "escaped name must decode back to the original")
  }

  test("the total line keeps its key order (artifact readers depend on it)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.lit
    val rep = Bench.runAll(spark, TestSpark.Sf,
      Seq("ok_tiny" -> ((s: org.apache.spark.sql.SparkSession, _: String) =>
        s.range(3).toDF("n").withColumn("c", lit(1)))))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(rep.json)
    import scala.jdk.CollectionConverters._
    assert(node.fieldNames().asScala.toSeq === Seq(
      "metric", "value", "unit", "n_ok", "n_failed", "failed", "gc_total_s",
      "jit_total_s", "sf", "queries", "gc", "jit", "plans"))
    assert(node.get("metric").asText() === "total")
    assert(node.get("plans").get("ok_tiny").asText().matches("[0-9a-f]{8}"))
  }

  test("plan normalization drops JVM identities and path-hashed catalog names") {
    def plan(kmv: String, lambda: String, idx: String, expr: Int, tmp: String) =
      s"""HashAggregate(keys=[k#$expr], functions=[graft.functions.KmvDistinct@$kmv(v#${expr + 1})])
         |+- Project [graft.multimodal.Multimodal$$$$$$Lambda$$$lambda@1f2e3d(x#7) AS y#8]
         |   +- FileScan parquet spark_catalog.default.graft_idx_$idx[k#$expr] Location: InMemoryFileIndex[file:$tmp/graft-derived/seg]
         |      +- Exchange hashpartitioning(k#$expr, 4), ENSURE_REQUIREMENTS, [plan_id=${expr * 3}]""".stripMargin
    val a = plan("683e649", "5485/0x0000000801e4b000", "0123456789abcdef01234567", 12, "/tmp/plansA")
    val b = plan("1b2c3d4", "6012/0x00000008019ac440", "fedcba9876543210fedcba98", 40, "/tmp/plansB")
    assert(a.contains("KmvDistinct@683e649") && a.contains("Multimodal$$$Lambda$5485/0x"))
    assert(a != b)
    assert(Bench.normalizePlan(a) === Bench.normalizePlan(b))
    val n = Bench.normalizePlan(a)
    Seq("683e649", "5485", "0123456789abcdef", "#12", "plansA").foreach(v =>
      assert(!n.contains(v), s"$v survived: $n"))
    // the operator structure itself is kept
    assert(n.contains("KmvDistinct@x") && n.contains("graft_idx_x") &&
      n.contains("Multimodal$$$Lambda@x"))
  }

  test("bench_diff selftest passes") {
    val out = new StringBuilder
    val code = Process(Seq("python3", "tools/bench_diff.py", "--selftest"))
      .!(ProcessLogger(l => out.append(l).append('\n')))
    assert(code === 0, s"selftest failed:\n$out")
    assert(out.toString.contains("selftest ok"))
  }

  test("latest two local bench artifacts show no >2x per-query regression") {
    val dir = new java.io.File("bench")
    val arts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("BENCH_local_") && f.getName.endsWith(".json"))
      .sortBy(_.getName)
    assume(arts.length >= 2, "fewer than two bench artifacts retained yet")
    val Array(old, neu) = arts.takeRight(2).map(_.getPath)
    val out = new StringBuilder
    val code = Process(Seq("python3", "tools/bench_diff.py", old, neu))
      .!(ProcessLogger(l => out.append(l).append('\n')))
    assert(code === 0, s"bench regression between $old and $neu:\n$out")
  }
}
