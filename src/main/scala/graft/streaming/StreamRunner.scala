package graft.streaming

import graft.Ckpt.CutOps
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The bounded-stream runner protocol shared by the batch-checkable
  * streaming queries (stream_dedup_ingest, stream_ts_anomaly): read a
  * published file source with AvailableNow, fold each micro-batch via a
  * checkpointed foreachBatch handler into a temp output tree, read the
  * result back MATERIALIZED (so the temp tree can be deleted), and fall
  * back to a caller-supplied empty frame when no data batch produced
  * output. One copy of the subtle parts — produced-file detection,
  * empty-input fallback, checkpoint/temp lifecycle — and the temp tree
  * is removed in try/finally so a failed run cannot leak it.
  */
object StreamRunner {

  /** @param mkHandler  given the run's output dir, the foreachBatch body
    * @param finish     given the raw parquet read of the output dir,
    *                   the final frame — eagerly checkpointed before the
    *                   temp tree is deleted
    * @param empty      result when the stream produced no output files
    */
  def runAvailableNow(
      spark: SparkSession,
      schema: StructType,
      srcDir: String,
      maxFilesPerTrigger: Int,
      tmpPrefix: String,
      mkHandler: String => (Dataset[Row], Long) => Unit,
      finish: DataFrame => DataFrame,
      empty: => DataFrame): DataFrame = {
    val tmp    = java.nio.file.Files.createTempDirectory(tmpPrefix)
    val outDir = s"$tmp/out"
    try {
      val query = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(srcDir)
        .writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(mkHandler(outDir))
        .start()
      query.awaitTermination()
      val produced = {
        val d = new java.io.File(outDir)
        d.exists && Option(d.listFiles).exists(_.exists(_.getName.endsWith(".parquet")))
      }
      if (produced)
        // materialize BEFORE the finally deletes the tree being read
        finish(spark.read.parquet(outDir)).cutLineage()
      else empty
    } finally graft.sources.DerivedCache.deleteRecursively(tmp.toFile)
  }
}
