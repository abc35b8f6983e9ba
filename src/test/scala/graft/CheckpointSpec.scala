package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ckpt: conf-gated reliable checkpointing for iterative queries.
  *
  * The scale contract under test: with `spark.graft.checkpoint.dir` set
  * (a cluster deployment pointing at HDFS/S3), every lineage cut in the
  * iterative tier goes through RELIABLE `checkpoint()` — files land in
  * the dir and the job survives executor loss — while results stay
  * byte-identical to the localCheckpoint default.
  */
class CheckpointSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf    = TestSpark.Sf

  private def withCheckpointDir[A](body: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-spec").toFile
    spark.conf.set("spark.graft.checkpoint.dir", dir.getAbsolutePath)
    try body(dir)
    finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  private def countFiles(f: java.io.File): Int =
    if (f.isFile) 1
    else Option(f.listFiles()).getOrElse(Array.empty).map(countFiles).sum

  test("cut uses reliable checkpoint when the conf dir is set, local otherwise") {
    import spark.implicits._
    val df = (1 to 10).toDF("x")
    // default path: no conf, no files written anywhere
    val localCut = Ckpt.cut(df)
    assert(localCut.count() == 10)
    withCheckpointDir { dir =>
      val cut = Ckpt.cut(df.withColumn("y", col("x") * 2))
      assert(cut.count() == 10)
      assert(countFiles(dir) > 0, "reliable checkpoint must write files under the conf dir")
    }
  }

  test("lineageCut.disabled skips the cut entirely (construction stays lazy)") {
    import spark.implicits._
    spark.conf.set("spark.graft.lineageCut.disabled", "true")
    try {
      val df  = (1 to 5).toDF("x").withColumn("y", col("x") + 1)
      val cut = Ckpt.cut(df)
      // the SAME frame comes back: no checkpoint/localCheckpoint node
      // was introduced, so the logical plan is untouched
      assert(cut.queryExecution.logical eq df.queryExecution.logical,
        "disabled cut must return the input frame unchanged")
    } finally spark.conf.unset("spark.graft.lineageCut.disabled")
  }

  test("connected components + pagerank produce identical results under reliable checkpointing") {
    val ccLocal = operators.Dedup.dedupClusters(spark, sf).collect().toSeq
    val prLocal = operators.Graph.pagerankParts(spark, sf).collect().toSeq
    withCheckpointDir { dir =>
      val ccRel = operators.Dedup.dedupClusters(spark, sf).collect().toSeq
      val prRel = operators.Graph.pagerankParts(spark, sf).collect().toSeq
      assert(ccRel == ccLocal)
      assert(prRel == prLocal)
      assert(countFiles(dir) > 0, "iterative queries must cut via the reliable dir")
    }
  }
}
