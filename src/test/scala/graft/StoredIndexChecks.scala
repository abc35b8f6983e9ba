package graft

import graft.sources.StoredIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset => CDataset}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.Assertions

/** Checks shared by the specs that pin the stored-index (LSM) tiers. */
object StoredIndexChecks extends Assertions {

  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Query `q`'s physical plan over the sf fixture (AQE's initial plan). */
  private def planOf(spark: SparkSession, q: String): SparkPlan =
    SparkEntry.queries(q)(spark, TestSpark.Sf)
      .asInstanceOf[CDataset[Row]].queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Each query's plan reads at least one bucketed (hash-clustered) index
    * scan, and no path from such a scan up to its probe join carries an
    * Exchange: only the delta side of a probe may shuffle.
    */
  def assertNoIndexSideExchange(spark: SparkSession, queries: Seq[String]): Unit = {
    def isBucketedScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.bucketSpec.isDefined &&
          f.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }
    // every root-to-scan path for each bucketed index scan
    def paths(p: SparkPlan): Seq[List[SparkPlan]] =
      if (isBucketedScan(p)) Seq(List(p))
      else p.children.flatMap(paths).map(c => p :: c).toSeq

    queries.foreach { q =>
      val plan = planOf(spark, q)
      val ps = paths(plan)
      assert(ps.nonEmpty,
        s"$q: no bucketed (hash-clustered) index scan in the plan:\n$plan")
      ps.foreach { path =>
        // from the scan UP to its first join: that segment is the index
        // side of the probe and must carry no shuffle
        val upward = path.reverse
        val toJoin = upward.takeWhile(!_.isInstanceOf[BaseJoinExec])
        assert(upward.exists(_.isInstanceOf[BaseJoinExec]),
          s"$q: bucketed scan feeds no join?\n$plan")
        assert(!toJoin.exists(_.isInstanceOf[ShuffleExchangeLike]),
          s"$q: Exchange between the bucketed index scan and its probe join:\n$plan")
      }
    }
  }

  /** `q`'s probe join reads a bucketed index scan on one side and, on
    * the other (the delta), exactly one Exchange: a hash exchange at
    * the index's bucket count, so the delta's own aggregation exchange
    * already satisfies the join and none is added for it.
    */
  def assertOneDeltaExchange(spark: SparkSession, q: String): Unit = {
    val plan = planOf(spark, q)
    def exchanges(p: SparkPlan) = p.collect { case e: ShuffleExchangeLike => e }
    def bucketedScans(p: SparkPlan) =
      p.collect { case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f }
    val probes = plan.collect { case j: BaseJoinExec => j }.flatMap { j =>
      Seq(j.left -> j.right, j.right -> j.left).collect {
        case (index, delta) if bucketedScans(index).nonEmpty && exchanges(index).isEmpty =>
          (bucketedScans(index).head, delta)
      }
    }
    assert(probes.size === 1, s"$q: expected one probe join on a bucketed index:\n$plan")
    val (scan, delta) = probes.head
    val n = scan.relation.bucketSpec.get.numBuckets
    val ex = exchanges(delta)
    assert(ex.size === 1, s"$q: the delta side must exchange exactly once:\n$plan")
    assert(ex.head.outputPartitioning match {
      case h: HashPartitioning => h.numPartitions == n
      case _ => false
    }, s"$q: the delta exchange must hash to the index's $n buckets:\n$plan")
  }

  /** The artifacts a later session actually serves from — the tier's
    * bucketed compacted tables — equal the tier's build kernel run over
    * the base ∪ batch-1 docs of the sf fixture, table by table.
    */
  def assertStoredCompactMatchesRebuild(spark: SparkSession, tier: StoredIndex.Tier): Unit = {
    val docs = Tables.documents(spark, TestSpark.Sf).filter(col("doc_id") % 10 < 9)
    val stored = StoredIndex.tables(spark, TestSpark.Sf, tier, StoredIndex.Compact)
    val rebuilt = tier.build(docs)
    tier.tables.zip(stored.zip(rebuilt)).foreach { case (t, (s, r)) =>
      assert(sameRows(s, r),
        s"${tier.label}/${t.suffix}: stored compacted layout must equal the from-scratch build")
    }
    rebuilt.foreach(_.unpersist())
  }
}
