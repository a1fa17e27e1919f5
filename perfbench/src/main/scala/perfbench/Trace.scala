package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is -1 for a
  * root span. Times are wall-clock milliseconds. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long)

/** Work Spark did for one job, summed over its tasks. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  @volatile var end: Long = start
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One streaming trigger, as `StreamingQueryProgress` reports it. */
final case class Trigger(runId: String, start: Long, rows: Long,
    phases: Map[String, Long])

/** Spans plus the listeners that attribute Spark work to them.
  *
  * Tracing is off unless [[attach]] was called: every span call then
  * runs its body and records nothing, so the untraced runs time the
  * engine alone.
  *
  * Attribution:
  *  - jobs: each span sets the Spark job group to its own id on the
  *    client thread; a job is charged to the span whose group it
  *    carries. A streaming query runs its jobs under its run id, which
  *    [[bindGroup]] maps to the span that drove the query.
  *  - planning: `QueryPlanningTracker` phases are charged, by time, to
  *    the innermost span open when the phase started. The client is a
  *    single thread, so that span is unambiguous.
  *  - triggers: a streaming trigger becomes a child span of the span
  *    open when it started, with its phases as children laid end to end
  *    in execution order (progress reports durations, not offsets).
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, String, Long)]
  private var nextId = 0
  private val groupToSpan = new ConcurrentHashMap[String, Integer]()

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
  /** (start ms, files written, bytes of files scanned) per execution. */
  val files = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new JobRec(e.jobId, g, e.time)
      j.stages = e.stageInfos.size
      e.stageIds.foreach(s => stageToJob.put(s, j))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.inputBytes += m.inputMetrics.bytesRead
            j.outputBytes += m.outputMetrics.bytesWritten
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      record(qe)
      val start = (qe.tracker.phases.values.map(_.startTimeMs) ++
        Seq(System.currentTimeMillis() - ns / 1000000)).min
      var (filesOut, bytesIn) = (0L, 0L)
      def walk(plan: SparkPlan): Unit = PlanWalk.foreachWithSubqueries(plan) {
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case w: DataWritingCommandExec =>
          filesOut += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case s: FileSourceScanExec =>
          bytesIn += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case _ => ()
      }
      walk(qe.executedPlan)
      if (filesOut > 0 || bytesIn > 0) files.add((start, filesOut, bytesIn))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p => planning.add((p.startTimeMs, p.endTimeMs)))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      triggers.add(Trigger(p.runId.toString, start, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop listening; waits for the listener bus to deliver what Spark
    * already posted. */
  def detach(): Unit = if (on) {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    on = false
  }

  /** Wait until every event posted so far reached the listeners. */
  private def drain(): Unit = {
    // the listener bus is asynchronous; events posted before this call
    // are delivered before the marker job's start event is
    val before = jobs.size
    spark.sparkContext.setJobGroup("perfbench-drain", "drain", interruptOnCancel = false)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.size <= before && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Thread.sleep(50)
    val marker = jobs.values.asScala.filter(_.group == "perfbench-drain").map(_.id).toSeq
    marker.foreach(jobs.remove)
  }

  /** Run `body` inside a span named `name` of layer `layer`. */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!on) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val group = s"perfbench-$id"
    groupToSpan.put(group, id)
    stack = (id, name, layer, System.currentTimeMillis()) :: stack
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    try body
    finally {
      val (_, _, _, start) = stack.head
      stack = stack.tail
      spans += Span(id, parent, name, layer, start, System.currentTimeMillis())
      stack.headOption match {
        case Some((pid, pname, _, _)) =>
          spark.sparkContext.setJobGroup(s"perfbench-$pid", pname, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Charge jobs running under `group` (a streaming run id) to the
    * innermost open span. */
  def bindGroup(group: String): Unit =
    if (on) stack.headOption.foreach { case (id, _, _, _) => groupToSpan.put(group, id) }

  /** All spans, once the run is over. A trigger of a stream bound with
    * [[bindGroup]] becomes a child of the innermost client span that
    * holds most of it, with its phases as its children. */
  def allSpans(): Seq[Span] = {
    val base = spans.toSeq
    var id = nextId
    val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    def overlap(s: Span, a: Long, b: Long) = math.min(s.end, b) - math.max(s.start, a)
    val extra = triggers.asScala.toSeq
      .filter(t => t.rows > 0 && groupToSpan.containsKey(t.runId)).flatMap { t =>
        val end = t.start + t.phases.getOrElse("triggerExecution", t.phases.values.sum)
        // the innermost client span holding most of the trigger
        val parent = base.filter(s => 2 * overlap(s, t.start, end) >= end - t.start)
          .sortBy(-_.start).headOption.map(_.id).getOrElse(-1)
        val tid = id
        id += 1
        var at = t.start
        val kids = phaseOrder.filter(t.phases.contains).map { ph =>
          val s = Span(id, tid, s"stream.$ph", "stream", at, at + t.phases(ph))
          id += 1
          at += t.phases(ph)
          s
        }
        Span(tid, parent, "stream.trigger", "stream", t.start, end) +: kids
      }
    base ++ extra
  }

  /** Span id a job is charged to, or -1. */
  def spanOfJob(j: JobRec): Int =
    Option(groupToSpan.get(j.group)).map(_.intValue).getOrElse(-1)
}

/** Walks physical plans through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def foreachWithSubqueries(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    collectWithSubqueries(p) { case x => f(x) }
    ()
  }
}

/** Process-level figures sampled beside every timed run. */
object Env {
  /** Steal time of the whole machine, in ms (`/proc/stat`, USER_HZ=100). */
  def stealMs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong * 10 else 0L
      } finally src.close()
    } catch { case _: Exception => 0L }

  /** Collector time of this JVM since start, in ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still in use after a full collection, in MiB. */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
  }

  /** Peak resident set of this process, in MiB. */
  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
