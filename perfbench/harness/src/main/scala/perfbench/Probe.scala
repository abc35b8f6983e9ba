package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Local properties the harness sets on the driver thread before each call
  * into the engine. Spark copies them into every job it launches (also
  * from broadcast and stream threads), which is how listener events are
  * attributed to a pass, a query and a step without any hook inside the
  * engine.
  */
object Tags {
  val Pass  = "perfbench.pass"
  val Query = "perfbench.query"
  val Step  = "perfbench.step"
  val Span  = "perfbench.span"
}

final case class Span(
    id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Any] = Map.empty) {
  def json: Json.Raw = Json.obj(
    "id" -> id, "parent" -> parent, "name" -> name,
    "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs)
}

/** Spans kept in memory and written out when the run ends. All times are
  * epoch microseconds so driver spans (nanoTime based) and listener spans
  * (epoch milliseconds) share one clock.
  */
final class Tracer(val runId: String) {
  private val nano0   = System.nanoTime()
  private val epoch0  = System.currentTimeMillis() * 1000L
  private val ids     = new AtomicLong(0L)
  private val spans   = ArrayBuffer.empty[Span]

  def nowUs: Long = epoch0 + (System.nanoTime() - nano0) / 1000L
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.synchronized { spans += s; () }
  def all: Seq[Span] = spans.synchronized(spans.toList)

  def span[T](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T = {
    val id = nextId(); val t0 = nowUs
    try body(id) finally add(Span(id, parent, name, t0, nowUs, attrs))
  }
}

/** Execution-layer counters for one (pass, query) key. */
final class Counters {
  var jobs, constructJobs, stages, tasks = 0L
  var cpuNs, runMs, shuffleWrite, shuffleRead, spill, input = 0L

  def json: Json.Raw = Json.obj(
    "jobs" -> jobs, "construct_jobs" -> constructJobs, "stages" -> stages,
    "tasks" -> tasks, "task_cpu_ns" -> cpuNs, "task_run_ms" -> runMs,
    "shuffle_write_b" -> shuffleWrite, "shuffle_read_b" -> shuffleRead,
    "spill_b" -> spill, "input_b" -> input)
}

/** Spark's public listener interfaces, registered only in traced runs. */
final class Probe(tracer: Tracer) extends SparkListener {
  private type Key = (String, String)
  private val counters  = new ConcurrentHashMap[Key, Counters]()
  private val stageKeys = new ConcurrentHashMap[Int, Key]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Long, Key)]()
  private val batches   = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  private def at(k: Key): Counters = counters.computeIfAbsent(k, _ => new Counters)

  private def prop(p: java.util.Properties, k: String, dflt: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse(dflt)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = (prop(e.properties, Tags.Pass, "none"), prop(e.properties, Tags.Query, ""))
    val c = at(k)
    c.synchronized {
      c.jobs += 1
      if (prop(e.properties, Tags.Step, "") == "construct") c.constructJobs += 1
    }
    e.stageInfos.foreach(s => stageKeys.put(s.stageId, k))
    jobStarts.put(e.jobId, (e.time, prop(e.properties, Tags.Span, "0").toLong, k))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, parent, (pass, q)) =>
      tracer.add(Span(tracer.nextId(), parent, "job", t0 * 1000L, e.time * 1000L,
        Map("job" -> e.jobId, "pass" -> pass, "query" -> q)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKeys.get(e.stageInfo.stageId)).foreach { k =>
      val c = at(k); c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKeys.get(e.stageId)).foreach { k =>
      val c = at(k)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
        }
      }
    }

  /** Micro-batch spans; parented later, by time, to the construct span
    * that ran the stream (progress events carry no local properties).
    */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p  = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d  = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches.add(Span(tracer.nextId(), -1L, "batch", t0, t0 + d * 1000L,
        Map("batch" -> p.batchId, "rows" -> p.numInputRows)))
      ()
    }
  }

  def batchSpans: Seq[Span] = batches.asScala.toList

  def countersJson: Json.Raw = {
    val rows = counters.asScala.toSeq.sortBy(_._1).map { case ((pass, q), c) =>
      Json.obj("pass" -> pass, "query" -> q, "counters" -> c.json)
    }
    Json.Raw(Json.value(rows))
  }
}
