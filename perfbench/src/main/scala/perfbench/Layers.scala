package perfbench

import java.io.PrintWriter

import scala.jdk.CollectionConverters._

/** Per-layer figures derived from a traced pass. */
object Layers {
  /** Every per-layer figure a traced run reports, on every workload. */
  val names: Seq[String] = Seq(
    "query.build_ms", "query.exec_ms", "query.planning_ms", "query.jobs", "query.build_jobs",
    "query.stages", "query.tasks", "query.single_task_jobs", "query.core_util",
    "query.shuffle_bytes",
    "stream.latest_offset_ms", "stream.get_batch_ms", "stream.planning_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.ckpt_bytes",
    "apply.ms", "apply.jobs_per_batch", "apply.tasks_per_batch", "apply.core_util",
    "mirror.rows_per_s",
    "store.bytes_written_per_row", "store.bytes_read_per_row", "store.files_written_per_batch",
    "store.files", "store.bytes_per_row",
    "read.bytes_per_lookup", "read.jobs_per_lookup", "read.lookup_p50_ms", "read.lookup_p90_ms",
    "monitor.jobs", "monitor.bytes_read", "monitor.p50_ms",
    "spark.jobs", "spark.tasks", "spark.task_run_ms", "spark.task_cpu_ms",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "env.steal_ms", "env.gc_ms", "trace.overhead_pct", "trace.coverage")

  def dur(s: Span): Double = (s.end - s.start).toDouble

  /** Spans, jobs and planning phases of a finished traced pass. */
  final class Index(t: Tracer) {
    val spans: Seq[Span] = t.allSpans()
    private val kids = spans.groupBy(_.parent)
    val jobs: Seq[JobRec] = t.jobs.values.asScala.toSeq
    private val jobsBySpan = jobs.groupBy(t.spanOfJob)
    // spans the client recorded (not streaming triggers), innermost
    // first when nested
    private val client = spans.filterNot(_.name.startsWith("stream.")).sortBy(s => -s.start)
    private val planningBySpan: Map[Int, Double] =
      t.planning.asScala.toSeq.flatMap { case (st, en) =>
        client.find(s => s.start <= st && st <= s.end)
          .map(s => s.id -> (en - st).toDouble)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

    def children(id: Int): Seq[Span] = kids.getOrElse(id, Nil)

    def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))

    def jobsUnder(id: Int): Seq[JobRec] = subtree(id).flatMap(jobsOf)

    /** Jobs charged to this span itself, not to its children. */
    def jobsOf(id: Int): Seq[JobRec] = jobsBySpan.getOrElse(id, Nil)

    def planningUnder(id: Int): Double = subtree(id).map(i => planningBySpan.getOrElse(i, 0.0)).sum

    /** Duration minus the part of it that child spans cover. */
    def selfMs(s: Span): Double = {
      val cs = children(s.id).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var upTo = s.start
      cs.foreach { case (a, b) =>
        val from = math.max(a, upTo)
        if (b > from) { covered += b - from; upTo = b }
      }
      dur(s) - covered
    }

    def named(name: String): Seq[Span] = spans.filter(_.name == name)
  }

  /** Spark-core totals over the traced pass. */
  def spark(t: Tracer): Map[String, Double] = {
    val js = t.jobs.values.asScala.toSeq
    Map(
      "spark.jobs" -> js.length.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_run_ms" -> js.map(_.runMs).sum.toDouble,
      "spark.task_cpu_ms" -> js.map(_.cpuNs).sum / 1e6,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spillBytes).sum.toDouble)
  }

  /** Self time summed over every span, as a share of the pass's wall
    * time: 1.0 when the spans tile the pass without gaps. */
  def coverage(t: Tracer, wallMs: Double): Double = {
    val ix = new Index(t)
    if (wallMs <= 0) 0.0 else ix.spans.map(ix.selfMs).sum / wallMs
  }

  def writeSpans(t: Tracer, spansPath: String, jobsPath: String): Unit = {
    val ix = new Index(t)
    val w = new PrintWriter(spansPath)
    try ix.spans.sortBy(_.start).foreach { s =>
      w.println(Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> ix.selfMs(s))))
    } finally w.close()
    val j = new PrintWriter(jobsPath)
    try ix.jobs.sortBy(_.id).foreach { r =>
      j.println(Json.render(Map("job" -> r.id, "span" -> t.spanOfJob(r), "start_ms" -> r.start,
        "end_ms" -> r.end, "stages" -> r.stages, "tasks" -> r.tasks, "run_ms" -> r.runMs,
        "cpu_ms" -> r.cpuNs / 1e6, "input_bytes" -> r.inputBytes,
        "output_bytes" -> r.outputBytes, "shuffle_write_bytes" -> r.shuffleWriteBytes,
        "spill_bytes" -> r.spillBytes)))
    } finally j.close()
  }
}
