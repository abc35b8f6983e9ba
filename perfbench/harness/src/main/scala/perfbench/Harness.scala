package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.{GraftSession, QueryState, SparkEntry}
import graft.sources.BuildLog

/** One benchmark run in one fresh JVM: set up (several times, each on a
  * fresh session, a fresh derived-layout cache and a fresh copy of the
  * inputs), then one cold pass and several warm passes over the
  * workload's queries, one query at a time. Every layer is timed from
  * here, around calls into public entry points:
  *
  *   - construction: `SparkEntry.queries(name)(spark, dir)`;
  *   - execution: the noop-format write of the built DataFrame;
  *   - stored-layout builds: `BuildLog.drain()`;
  *   - Catalyst, codegen, GC: JVM-global counters read before and after;
  *   - jobs, stages, tasks, batches: Spark's public listeners (traced
  *     runs only).
  *
  * Correctness work (result dumps for the digest and oracle checks, plan
  * scans) happens between queries, outside every timed window. Writes
  * `result.json`, `dump/{cold,warm}/<query>` and, when traced,
  * `spans.json` under `--out`.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  final case class Args(
      workload: String, queries: Seq[String], dataDirs: Seq[String], out: String,
      seed: Long, cpus: Int, warmPasses: Int, trace: Boolean, inject: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Args(
      workload = m("workload"), queries = list("queries"), dataDirs = list("data"),
      out = m("out"), seed = m("seed").toLong, cpus = m("cpus").toInt,
      warmPasses = m("warm-passes").toInt,
      trace = m("trace") == "1", inject = m.get("inject").contains("1"))
  }

  /** Two queries that throw, for the harness self-test: one while the
    * plan is built, one when it executes.
    */
  private val injected: Map[String, Query] = Map(
    "perfbench_fail_construct" -> ((_, _) => throw new IllegalStateException("injected")),
    "perfbench_fail_execute" -> ((s, _) => s.range(1).selectExpr("raise_error('injected') AS x")))

  // ---- JVM-global counters, read around each timed window -------------

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  final case class Global(ruleNs: Long, srcNs: Long, janinoNs: Long, classes: Long, gcMs: Long) {
    def -(o: Global): Global = Global(
      ruleNs - o.ruleNs, srcNs - o.srcNs, janinoNs - o.janinoNs, classes - o.classes, gcMs - o.gcMs)
  }

  private def global(): Global = Global(
    RuleExecutor.getCurrentMetrics().time, WholeStageCodegenExec.codeGenTime,
    CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount, gcMs)

  // ---- plan scans (traced runs, outside the timed window) ---------------

  private def scans(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => return scans(a.inputPlan)
      case s: FileSourceScanExec    => Seq(s)
      case b: BatchScanExec         => Seq(b)
      case _                        => Nil
    }
    here ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }

  private def scanKey(p: SparkPlan): String = p match {
    case s: FileSourceScanExec =>
      s"${s.relation.location.rootPaths.mkString(",")}|${s.requiredSchema.catalogString}|" +
        (s.dataFilters ++ s.partitionFilters).map(_.canonicalized.toString).sorted.mkString("&")
    case other => other.toString.replaceAll("#\\d+", "#x")
  }

  /** (scans, duplicate scans) of the query's physical plan, built with
    * lineage cuts off as `graft.Bench.planFingerprint` does, so eager
    * cuts neither run nor hide the scans beneath them.
    */
  private def scanCounts(spark: SparkSession, fn: Query, dir: String): (Int, Int) = {
    spark.conf.set("spark.graft.lineageCut.disabled", "true")
    try {
      val plan = fn(spark, dir)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.executedPlan
      val keys = scans(plan).map(scanKey)
      (keys.size, keys.size - keys.distinct.size)
    } finally spark.conf.unset("spark.graft.lineageCut.disabled")
  }

  // ---- the run ---------------------------------------------------------

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** JVM and engine warm-up outside the workloads: read every table once,
    * then one join/aggregate/sort and one window, so the first query of
    * the cold pass does not also pay for warming the operators every
    * query shares.
    */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(s"w_$t"))
    Tables.foreach(t => spark.table(s"w_$t").write.mode("overwrite").format("noop").save())
    Seq(
      """SELECT n.n_name, count(*) AS n, sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
        |FROM w_lineitem l JOIN w_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN w_customer c ON o.o_custkey = c.c_custkey
        |JOIN w_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY rev DESC""".stripMargin,
      """SELECT user_id, ts, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
        |  sum(value) OVER (PARTITION BY user_id ORDER BY ts) AS running
        |FROM w_events""".stripMargin
    ).foreach(q => spark.sql(q).write.mode("overwrite").format("noop").save())
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
  }

  private def du(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  /** DerivedCache layouts live under java.io.tmpdir as `graft-*` dirs. */
  private def derived(tmp: File): Array[File] =
    Option(tmp.listFiles).getOrElse(Array.empty[File]).filter(_.getName.startsWith("graft-"))

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val a       = parse(argv)
    val tmp     = new File(sys.props("java.io.tmpdir"))
    val all     = SparkEntry.queries ++ (if (a.inject) injected else Map.empty)
    val oracle  = SparkEntry.oracleSql
    val missing = a.queries.filterNot(all.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] unknown queries: ${missing.mkString(",")}")
      sys.exit(3)
    }
    val tracer  = new Tracer(s"${a.workload}-${a.seed}-${System.currentTimeMillis}")
    val runSpan = tracer.nextId()
    val runT0   = tracer.nowUs
    val probe   = if (a.trace) Some(new Probe(tracer)) else None
    val records = ArrayBuffer.empty[Json.Raw]
    var spark: SparkSession = null

    def tag(pass: String, q: String, step: String, span: Long): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Tags.Pass, pass); sc.setLocalProperty(Tags.Query, q)
      sc.setLocalProperty(Tags.Step, step); sc.setLocalProperty(Tags.Span, span.toString)
    }

    // ---- set-up, repeated; the last session serves the passes ----------
    val setupS = ArrayBuffer.empty[Double]
    a.dataDirs.zipWithIndex.foreach { case (dir, k) =>
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      derived(tmp).foreach(rm)
      tracer.span("setup", runSpan, Map("setup" -> k)) { sid =>
        val t0 = System.nanoTime()
        spark = GraftSession.builder(s"local[${a.cpus}]", a.cpus)
          .config("spark.local.dir", new File(tmp, "local").getPath)
          .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        val sessionS = (System.nanoTime() - t0) / 1e9
        probe.foreach { p =>
          spark.sparkContext.addSparkListener(p); spark.streams.addListener(p.streams)
        }
        tag("setup", "", "warmup", sid)
        warmUp(spark, dir)
        setupS += (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] setup $k: ${setupS.last}%.2f s (session $sessionS%.2f s)")
      }
    }
    val dir = a.dataDirs.last

    // ---- passes ----------------------------------------------------------
    val passes    = ArrayBuffer.empty[Json.Raw]
    val measureT0 = System.nanoTime()

    def runPass(p: Int): Unit = {
      val pass  = if (p == 0) "cold" else "warm"
      val derived0 = derived(tmp).map(du).sum
      val passT0 = System.nanoTime()
      tracer.span(pass, runSpan, Map("pass" -> p)) { psid =>
        a.queries.foreach { q =>
          val fn = all(q)
          var df: DataFrame = null
          var err: String = null
          var tc, te = 0L
          val g0 = global()
          val w0 = System.nanoTime()
          tracer.span(s"query:$q", psid, Map("pass" -> p)) { qsid =>
            try {
              tracer.span("construct", qsid) { sid =>
                tag(pass, q, "construct", sid)
                val t0 = System.nanoTime(); df = fn(spark, dir); tc = System.nanoTime() - t0
              }
              tracer.span("execute", qsid) { sid =>
                tag(pass, q, "execute", sid)
                val t0 = System.nanoTime()
                df.write.mode("overwrite").format("noop").save()
                te = System.nanoTime() - t0
              }
            } catch {
              case e: Throwable =>
                err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
                System.err.println(s"[perfbench] $pass $q FAILED: $err")
            }
          }
          val wall = System.nanoTime() - w0
          val g    = global() - g0
          // ---- outside the timed window ----
          tag("check", q, "check", 0L)
          val builds = BuildLog.drain()
          var checkErr: String = null
          // results of the cold and the last warm pass, for the digest and
          // oracle checks
          val dumpTo = if (p == 0) Some("cold") else if (p == a.warmPasses) Some("warm") else None
          if (err == null) dumpTo.foreach(d => try {
            df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/dump/$d/$q")
          } catch {
            case e: Throwable =>
              checkErr = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          })
          val sc = if (a.trace && err == null && p <= 1) {
            tag("plan", q, "plan", 0L)
            try Some(scanCounts(spark, fn, dir)) catch { case _: Throwable => None }
          } else None
          QueryState.release(spark)
          BuildLog.drain() // builds the checks caused are not the query's
          records += Json.obj(
            "pass" -> p, "q" -> q, "ok" -> (err == null), "err" -> err,
            "construct_s" -> tc / 1e9, "exec_s" -> te / 1e9, "wall_s" -> wall / 1e9,
            "dump" -> (if (err == null && checkErr == null) dumpTo else None),
            "check_err" -> checkErr,
            "builds" -> builds.map(b => Json.obj("n" -> b.name, "s" -> b.sec)),
            "rule_s" -> g.ruleNs / 1e9, "codegen_src_s" -> g.srcNs / 1e9,
            "janino_s" -> g.janinoNs / 1e9, "classes" -> g.classes, "gc_s" -> g.gcMs / 1e3,
            "scans" -> sc.map(_._1), "dup_scans" -> sc.map(_._2))
        }
      }
      val derived1 = derived(tmp).map(du).sum
      System.err.println(f"[perfbench] pass $p: ${(System.nanoTime() - passT0) / 1e9}%.2f s")
      passes += Json.obj("pass" -> p, "clock_s" -> (System.nanoTime() - passT0) / 1e9,
        "derived_b" -> (derived1 - derived0))
    }

    (0 to a.warmPasses).foreach(runPass)
    tracer.add(Span(runSpan, 0L, "run", runT0, tracer.nowUs, Map("run_id" -> tracer.runId)))
    probe.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

    val oracleSql = a.queries.filter(oracle.contains).map(q => q -> oracle(q)).toMap
    new File(a.out, "dump/cold").mkdirs()
    Files.writeString(Paths.get(a.out, "dump", "cold", "oracle_sql.json"), Json.value(oracleSql))
    val result = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cpus" -> a.cpus,
      "run_id" -> tracer.runId, "setup_s" -> setupS,
      "measure_s" -> (System.nanoTime() - measureT0) / 1e9,
      "rss_peak_mb" -> vmHwmKb() / 1024.0, "passes" -> passes, "queries" -> records,
      "counters" -> probe.map(_.countersJson))
    Files.writeString(Paths.get(a.out, "result.json"), result.json)
    probe.foreach { pr =>
      val spans = tracer.all ++ pr.batchSpans
      Files.writeString(Paths.get(a.out, "spans.json"), Json.value(spans.map(_.json)))
    }
    spark.stop()
  }

}
