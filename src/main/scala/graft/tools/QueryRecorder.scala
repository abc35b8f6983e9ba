package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftSession, QueryState}
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query recorder of Bench and the dev tools. `run` executes a
  * registered query the way each of them does: build the frame
  * (construction: eager lineage cuts, sizing jobs, stored-layout
  * builds), force it with a noop-format write, catch a failure, then
  * release the query's caches outside the timed window. It returns one
  * [[QueryRecorder.Record]]: wall and construction seconds, GC and JIT
  * milliseconds, and the query's Spark counters.
  *
  * A single SparkListener collects the counters. `run` tags the driver
  * thread with local properties naming the query and its step; Spark
  * copies local properties into every job it launches (also from
  * broadcast and stream threads), so each job, and through it each
  * stage, is billed to the query that launched it. Untagged jobs (a
  * plan-only build, another caller on the session) are not counted.
  * Counters are read after the listener bus has drained, never after a
  * sleep.
  */
final class QueryRecorder(spark: SparkSession) {
  import QueryRecorder._

  private val sc      = spark.sparkContext
  private val running = new ConcurrentHashMap[String, Acc]()
  private val stageOf = new ConcurrentHashMap[Int, Acc]()
  private val ids     = new AtomicLong(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(QueryTag)))
        .flatMap(t => Option(running.get(t)))
        .foreach { acc =>
          acc.synchronized {
            acc.jobs += 1
            if (e.properties.getProperty(StepTag) == Construct) acc.constructJobs += 1
          }
          e.stageInfos.foreach(s => stageOf.put(s.stageId, acc))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOf.get(e.stageInfo.stageId)).foreach { acc =>
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s) / 1e3)
          .getOrElse(0.0)
        acc.synchronized {
          acc.stages += Stage(i.name.split("\n").head.take(90), wall, i.numTasks,
            if (m == null) 0L else m.executorRunTime)
          if (m != null) {
            acc.input += m.inputMetrics.bytesRead
            acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            acc.memSpill += m.memoryBytesSpilled
            acc.diskSpill += m.diskBytesSpilled
          }
        }
      }
  }
  sc.addSparkListener(listener)

  def run(name: String, sfDir: String, fn: QueryFn): Record = {
    val tag = s"$name#${ids.incrementAndGet()}"
    val acc = new Acc
    running.put(tag, acc)
    sc.setLocalProperty(QueryTag, tag)
    val gc0 = gcMillis(); val jit0 = jitMillis()
    val t0 = System.nanoTime()
    var built = Long.MinValue
    val error =
      try {
        sc.setLocalProperty(StepTag, Construct)
        val df = fn(spark, sfDir)
        built = System.nanoTime()
        sc.setLocalProperty(StepTag, Execute)
        df.write.mode("overwrite").format("noop").save()
        None
      } catch { case e: Throwable => Some(e) }
      finally {
        sc.setLocalProperty(QueryTag, null)
        sc.setLocalProperty(StepTag, null)
      }
    val t1 = System.nanoTime() // BEFORE cache teardown
    val gcMs = gcMillis() - gc0
    val jitMs = jitMillis() - jit0
    // drop per-query persist()s (minhash sigs, rank inputs) so cached
    // partitions don't accumulate across a sweep and evict or spill
    // against later queries
    QueryState.release(spark)
    GraftListenerBus.drain(sc)
    running.remove(tag)
    stageOf.values.removeIf(_ eq acc)
    acc.synchronized {
      Record(name, (t1 - t0) / 1e9, ((if (built == Long.MinValue) t1 else built) - t0) / 1e9,
        gcMs, jitMs, acc.jobs, acc.constructJobs, acc.stages.toList,
        acc.input, acc.shuffleWrite, acc.memSpill, acc.diskSpill, error)
    }
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object QueryRecorder {
  type QueryFn = (SparkSession, String) => DataFrame

  private val QueryTag  = "graft.recorder.query"
  private val StepTag   = "graft.recorder.step"
  private val Construct = "construct"
  private val Execute   = "execute"

  final case class Stage(name: String, wallS: Double, tasks: Int, taskMs: Long)

  /** One query run. `gcMs` is stop-the-world collector time, a wall-time
    * component. `jitMs` is HotSpot compilation summed across compiler
    * threads, so it can exceed the wall: read it as compilation load
    * during the query, not as a layer of it. `error` is set, and the
    * timings mean nothing, when the query threw.
    */
  final case class Record(
      name: String,
      wallS: Double,
      constructS: Double,
      gcMs: Long,
      jitMs: Long,
      jobs: Int,
      constructJobs: Int,
      stages: Seq[Stage],
      inputBytes: Long,
      shuffleWriteBytes: Long,
      memSpillBytes: Long,
      diskSpillBytes: Long,
      error: Option[Throwable]) {
    def taskMs: Long = stages.map(_.taskMs).sum
  }

  private final class Acc {
    var jobs, constructJobs = 0
    var input, shuffleWrite, memSpill, diskSpill = 0L
    val stages = ArrayBuffer.empty[Stage]
  }

  private def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  private def jitMillis(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime
    else 0L
  }

  /** Runs `f` with a recorder on `spark`, then unregisters its listener. */
  def using[T](spark: SparkSession)(f: QueryRecorder => T): T = {
    val rec = new QueryRecorder(spark)
    try f(rec) finally rec.close()
  }

  /** The session Bench and the dev tools run on: the engine's session on
    * `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions.
    */
  def session(logLevel: String = "ERROR"): SparkSession = {
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
