package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every operator from SURVEY.md §2 is registered here as a named query;
  * the ones with ANSI-expressible semantics also carry a DuckDB oracle.
  */
object SparkEntry {

  private def all: Map[String, QueryDef] =
    Commerce.defs ++ Engagement.defs ++ TextAnalysis.defs ++ Dedup.defs ++
      Similarity.defs ++ Extended.defs ++ AsOf.defs ++ Olap.defs ++
      Retention.defs ++ Rank.defs ++ TextNgrams.defs ++ Sketches.defs ++
      Graph.defs ++ Typed.defs ++ Skew.defs ++ Curation.defs ++ Pipeline.defs ++
      Temporal.defs ++
      Warehouse.defs ++ Quality.defs ++ Cdc.defs ++ Reports.defs ++
      graft.streaming.EventStreams.defs ++ graft.streaming.DocStreams.defs ++
      graft.streaming.AnomalyStreams.defs ++
      graft.multimodal.Multimodal.defs ++
      graft.sources.Bucketing.defs ++ graft.sources.StatsManifest.defs ++
      graft.sources.Ingest.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The integrated engagement-vs-spend analysis — the reference's most
    * complex query (cross-system join + scoring + segmentation) as one
    * Spark DAG.
    */
  def entry(spark: SparkSession): DataFrame =
    Engagement.engagementVsSpend(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each build
    * first registers the `graft_*` functions, so a session built without
    * `GraftExtensions` (a plain `SparkSession.builder` one) resolves them
    * too.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, d) =>
      name -> { (spark: SparkSession, dir: String) =>
        graft.functions.GraftFunctions.register(spark)
        d.build(spark, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (name, QueryDef(_, Some(sql))) => name -> sql }
}
