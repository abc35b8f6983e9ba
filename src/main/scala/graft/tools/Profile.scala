package graft.tools

import graft.SparkEntry

/** Dev profiling entry: runs named queries (default: every registered
  * query) twice through the [[QueryRecorder]] — the first run warms
  * memoized trainers and codegen, so the second matches the bench's
  * post-prebuild state — and prints, per query, the wall and
  * construction split, jobs, stages, task time, GC, input, shuffle and
  * spill bytes, then one line per stage that took at least 80 ms of wall
  * or 300 ms of task time. Construction (eager lineage cuts, trainer and
  * sizing jobs) is where iterative queries spend their time, so it is
  * measured, not just the final write. The last line is a JSON summary of
  * input and shuffle-write bytes per query.
  *
  * Shuffle volume turns the "minimize shuffles" design claims into
  * numbers: a query whose shuffle bytes rival its input bytes is moving
  * data it should have pre-aggregated, broadcast, or hashed first.
  * Local-fs parquet scans under-report bytesRead, so compare shuffle
  * bytes against the on-disk table sizes.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <name>...
  * PROFILE_EXPLAIN=1 prints each plan; PROFILE_EXPLAIN_ONLY=1 prints
  * plans WITHOUT executing — the triage mode for a query that OOMs at
  * probe scale (the plan shows the join strategy that would run).
  * Explain-only also disables lineage cuts (spark.graft.lineageCut
  * .disabled) so eager checkpoints inside query CONSTRUCTION don't
  * execute the very stage being triaged; stored-artifact builds
  * (DerivedCache) still run on first construction — point the probe at
  * a dir whose caches exist, or accept the one-time build.
  */
object Profile {
  private def mb(b: Long): Double = b / 1e6

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = QueryRecorder.session()
    if (sys.env.contains("PROFILE_EXPLAIN_ONLY")) {
      spark.conf.set("spark.graft.lineageCut.disabled", "true")
      names.foreach { n =>
        println(s"===== PLAN $n")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
      spark.stop()
      return
    }
    val rows = QueryRecorder.using(spark) { rec =>
      names.map { n =>
        val fn = SparkEntry.queries(n)
        if (sys.env.contains("PROFILE_EXPLAIN")) {
          println(s"===== PLAN $n"); fn(spark, sfDir).explain("formatted")
        }
        val warm = rec.run(n, sfDir, fn)
        val r = rec.run(n, sfDir, fn)
        r.error.foreach(e => println(s"===== FAIL $n: ${e.getMessage}"))
        println(f"===== PROF $n%-24s wall=${r.wallS}%.3f s (build=${r.constructS}%.3f, " +
          f"warm-up run ${warm.wallS}%.3f) jobs=${r.jobs} (build ${r.constructJobs}) " +
          f"stages=${r.stages.size} taskTime=${r.taskMs / 1e3}%.3f s gc=${r.gcMs / 1e3}%.3f s " +
          f"input=${mb(r.inputBytes)}%.1f MB shuffle=${mb(r.shuffleWriteBytes)}%.1f MB " +
          f"spill mem=${mb(r.memSpillBytes)}%.1f MB disk=${mb(r.diskSpillBytes)}%.1f MB")
        r.stages.filter(s => s.wallS >= 0.08 || s.taskMs > 300).foreach { s =>
          println(f"  stage wall=${s.wallS}%6.3f tasks=${s.tasks}%3d taskTime=${s.taskMs / 1e3}%7.3f  ${s.name}")
        }
        (n, r.inputBytes, r.shuffleWriteBytes)
      }
    }
    val qs = rows.map { case (n, i, s) => s""""$n":[$i,$s]""" }.mkString("{", ",", "}")
    println(s"""{"metric":"shuffle_audit","input_bytes":${rows.map(_._2).sum},""" +
      s""""shuffle_bytes":${rows.map(_._3).sum},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
