package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-first entry path: temp views + spark.sql, including the
  * graft_* expressions callable from SQL (FunctionRegistry /
  * SparkSessionExtensions surface).
  */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("spark.sql over temp views matches the DataFrame formulation") {
    Tables.orders(spark, TestSpark.Sf).createOrReplaceTempView("orders_v")
    val sql = spark.sql(
      """SELECT o_custkey,
        |       floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS total_spent,
        |       count(o_orderkey) AS num_orders
        |FROM orders_v
        |GROUP BY o_custkey
        |ORDER BY total_spent DESC, o_custkey
        |LIMIT 10""".stripMargin)
    val df = graft.operators.Commerce.topSpenders(spark, TestSpark.Sf)
    assert(sql.collect().toSeq === df.collect().toSeq)
  }

  test("graft_* expressions are callable from SQL") {
    GraftFunctions.register(spark)
    val cos = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val sim = spark.sql(
      "SELECT graft_simhash(array('spark', 'sql')) AS s").collect().head.getLong(0)
    assert(sim === spark.sql(
      "SELECT graft_simhash(array('sql', 'spark')) AS s").collect().head.getLong(0))
    val mh = spark.sql(
      "SELECT size(graft_minhash(array('a b c'), 16)) AS n").collect().head.getInt(0)
    assert(mh === 16)
  }

  private val graftFunctionNames = Seq(
    "graft_cosine", "graft_sig_matches", "graft_sig_band_hit", "graft_simhash",
    "graft_simhash_md5", "graft_minhash", "graft_minhash_tokens", "graft_minhash_md5",
    "graft_lsh_bucket", "graft_lsh_bucket_md5", "graft_lang_id", "graft_window_hashes",
    "graft_morton", "graft_gram_stats")

  test("re-building a query does not re-register the graft_* functions") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-fn-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(e.getMessage.getFormattedMessage); ()
      }
    }
    capture.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("org.apache.spark.sql.catalyst.analysis")
    logger.addAppender(capture)
    def replaced() = seen.toArray(Array.empty[String])
      .filter(_.contains("replaced a previously registered function")).toSeq
    try {
      // dedup_substring_incremental's builder calls register
      for (q <- Seq("cdc_incremental", "dedup_substring_incremental"); _ <- 1 to 2)
        SparkEntry.queries(q)(spark, TestSpark.Sf)
      assert(replaced().isEmpty, s"re-registered: ${replaced()}")
      // the capture sees a real replacement
      val reg = spark.sessionState.functionRegistry
      (1 to 2).foreach(_ => reg.createOrReplaceTempFunction(
        "graft_capture_probe", exprs => exprs.head, "built-in"))
      assert(replaced().exists(_.contains("graft_capture_probe")))
    } finally {
      logger.removeAppender(capture)
      spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_capture_probe"))
      ()
    }
  }

  test("a bare session resolves every graft_* function after register") {
    // a session without GraftExtensions (as a plain SparkSession.builder
    // would make) on the shared context
    val bare = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructor(classOf[org.apache.spark.SparkContext])
      .newInstance(spark.sparkContext)
    val reg = bare.sessionState.functionRegistry
    assert(!reg.functionExists(FunctionIdentifier("graft_morton")))
    GraftFunctions.register(bare)
    graftFunctionNames.foreach { n =>
      assert(reg.lookupFunction(FunctionIdentifier(n)).isDefined, s"$n does not resolve")
    }
    val q = "SELECT graft_morton(CAST(3 AS BIGINT), CAST(5 AS BIGINT)) AS z"
    GraftFunctions.register(spark)
    assert(bare.sql(q).collect().toSeq === spark.sql(q).collect().toSeq)
  }

  test("embeddings cosine top-1 via pure SQL") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, TestSpark.Sf).createOrReplaceTempView("emb_v")
    val top = spark.sql(
      """SELECT b.vec_id, graft_cosine(a.embedding, b.embedding) AS cos
        |FROM emb_v a JOIN emb_v b ON a.vec_id = 0 AND b.vec_id != 0
        |ORDER BY cos DESC, b.vec_id LIMIT 1""".stripMargin)
      .collect().head
    assert(top.getDouble(1) <= 1.0 && top.getDouble(1) >= -1.0)
  }
}
