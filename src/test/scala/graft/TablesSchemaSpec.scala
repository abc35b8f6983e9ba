package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Whole-catalog schema-drift canary, the generalization of
  * EventsSchemaSpec's events-only contract: the driver regenerates
  * /root/testdata between rounds and has already changed a physical
  * encoding once (events.ts, round 6 — 25 queries broke with opaque
  * analysis errors). This spec pins the COLUMN NAMES and the accepted
  * type classes of every table the engine reads, so the next
  * regeneration fails here with a named per-column assertion.
  *
  * Types are asserted as CLASSES (integral / fractional / string /
  * timestamp-like / float-array) rather than exact widths: an int32 →
  * int64 widening is absorbed by every consumer, but a double → string
  * or timestamp → bigint change is a semantic break the engine must be
  * adapted to (as Tables.events was).
  */
class TablesSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private sealed trait Cls { def ok(t: DataType): Boolean }
  private case object I extends Cls { // integral
    def ok(t: DataType): Boolean =
      t == IntegerType || t == LongType || t == ShortType
  }
  private case object F extends Cls { // fractional
    def ok(t: DataType): Boolean =
      t == DoubleType || t == FloatType || t.isInstanceOf[DecimalType]
  }
  private case object S extends Cls { // string
    def ok(t: DataType): Boolean = t == StringType
  }
  private case object T extends Cls { // any timestamp-like arrival
    def ok(t: DataType): Boolean =
      t == TimestampType || t == TimestampNTZType || t == DateType ||
        t == LongType // legacy nanos-as-long
  }
  private case object VecF extends Cls { // float/double vector
    def ok(t: DataType): Boolean = t match {
      case ArrayType(e, _) => e == FloatType || e == DoubleType
      case _               => false
    }
  }

  private val contract: Map[String, Map[String, Cls]] = Map(
    "region" -> Map("r_regionkey" -> I, "r_name" -> S),
    "nation" -> Map("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
    "customer" -> Map(
      "c_custkey" -> I, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> F, "c_mktsegment" -> S),
    "supplier" -> Map(
      "s_suppkey" -> I, "s_name" -> S, "s_nationkey" -> I, "s_acctbal" -> F),
    "part" -> Map(
      "p_partkey" -> I, "p_name" -> S, "p_brand" -> S, "p_type" -> S,
      "p_size" -> I, "p_retailprice" -> F),
    "orders" -> Map(
      "o_orderkey" -> I, "o_custkey" -> I, "o_orderstatus" -> S,
      "o_totalprice" -> F, "o_orderdate" -> T, "o_orderpriority" -> S),
    "lineitem" -> Map(
      "l_orderkey" -> I, "l_partkey" -> I, "l_suppkey" -> I,
      "l_linenumber" -> I, "l_quantity" -> F, "l_extendedprice" -> F,
      "l_discount" -> F, "l_tax" -> F, "l_returnflag" -> S,
      "l_linestatus" -> S, "l_shipdate" -> T),
    "events" -> Map(
      "event_id" -> I, "ts" -> T, "user_id" -> I, "event_type" -> S,
      "value" -> F, "props" -> S),
    "documents" -> Map(
      "doc_id" -> I, "text" -> S, "lang" -> S, "source" -> S,
      "n_chars" -> I),
    "embeddings" -> Map("vec_id" -> I, "embedding" -> VecF, "label" -> I))

  test("embeddings vector dimension matches the LSH oracle's sign matrix (64)") {
    // the portable LSH sign-matrix oracles (Similarity.lshSqlPrefix) and
    // the quantizer chains generate exactly 64 dimensions; a regenerated
    // embeddings table with a different dim would break the ann oracles
    // with opaque hash mismatches instead of a named assertion here
    import org.apache.spark.sql.functions._
    val dims = Tables.table(spark, TestSpark.Sf, "embeddings")
      .select(size(col("embedding")).as("d")).distinct().collect().map(_.getInt(0))
    assert(dims.toSeq == Seq(64),
      s"embeddings dim drifted to ${dims.mkString(",")} — adapt " +
        "Similarity.lshSqlPrefix's generate_series bound and re-derive oracles")
  }

  test("documents text is non-null word text (the shingle/token contract)") {
    // every text-tier operator splits on single spaces; a regeneration
    // that ships NULL text or empty strings en masse would silently
    // change dedup/ngram yields — pin the invariant with a count
    import org.apache.spark.sql.functions._
    val bad = Tables.table(spark, TestSpark.Sf, "documents")
      .filter(col("text").isNull || length(col("text")) === 0).count()
    assert(bad === 0L, s"$bad documents rows have null/empty text — " +
      "text-tier operators assume word text; adapt filters if intentional")
  }

  for ((tableName, cols) <- contract.toSeq.sortBy(_._1))
    test(s"$tableName columns and type classes match the engine's contract") {
      val schema = Tables.table(spark, TestSpark.Sf, tableName).schema
      val got = schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = cols.keySet -- got.keySet
      assert(missing.isEmpty,
        s"$tableName: regenerated testdata DROPPED columns $missing — " +
          "engine consumers must be adapted")
      cols.foreach { case (c, cls) =>
        assert(cls.ok(got(c)),
          s"$tableName.$c: physical type ${got(c)} left its accepted class " +
            s"($cls) — testdata schema drifted; adapt the consumers " +
            "(see Tables.events for the normalization-boundary pattern)")
      }
    }

  test("cachedCount recounts a table rewritten in place") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-count").toString
    def put(n: Long): Unit =
      (1L to n).toDF("id").write.mode("overwrite").parquet(Tables.pathOf(dir, "t"))
    put(3)
    assert(Tables.cachedCount(spark, dir, "t") === 3)
    put(7)
    assert(Tables.cachedCount(spark, dir, "t") === 7,
      "a stale memo must not survive a rewrite of the table")
  }
}
