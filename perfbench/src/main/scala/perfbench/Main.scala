package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run needs to know. `work` is the run's working
  * directory; `corpus` the parquet corpus the catalog reads. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    work: String, corpus: String, cores: Int, tracer: Tracer)

/** Outcome of one measured pass. `ops` are the latencies, in ms, of
  * the workload's unit operation (a query, or a mirror micro-batch). */
final class Pass {
  val ops = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var wallS = 0.0
  /** Further figures a workload reports: lookups, reports, store size. */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  def fail(what: String): Unit = { failed += 1; System.err.println(s"[perfbench] FAILED $what") }
}

trait Workload {
  /** Generate the workload's inputs, once, before any set-up. */
  def prepare(): Unit = ()
  /** The engine's set-up of the workload; returns the seconds it took. */
  def setup(): Double
  /** Untimed run that fills the JIT and Spark's caches. */
  def warm(): Unit
  /** One measured pass, from the state `setup` left. */
  def pass(): Pass
  /** Per-layer figures of a traced pass. */
  def layers(p: Pass, t: Tracer): Map[String, Double]
  /** Work to do after the traced pass (the catalog's oracle dump). */
  def afterTrace(): Unit = ()
}

/** Runs one workload: set-up several times, warm up, one untraced
  * measured pass, and with `--trace 1` a second, traced pass over the
  * same inputs. Prints one JSON line of figures as its last output;
  * `run.py` checks and publishes them. */
object Main {
  val setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toInt, a("work"),
      a.getOrElse("corpus", ""), cores, new Tracer(spark))
    val w: Workload = workload match {
      case "catalog" => new Catalog(ctx, Catalog.weights(a("weights")))
      case "mirror" => new Mirror(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      phase("inputs")(w.prepare())
      val setupS = phase("setup")(Seq.fill(setups)(w.setup()))
      phase("warm")(w.warm())
      System.gc()
      val (plain, env) = phase("pass")(measured(w))
      out ++= Seq(
        "setup_s" -> Stats.median(setupS),
        "setup_runs_s" -> setupS,
        "wall_s" -> plain.wallS,
        "op_p50_ms" -> Stats.pct(plain.ops, 50),
        "op_p75_ms" -> Stats.pct(plain.ops, 75),
        "ops" -> plain.ops.length,
        "heap_retained_mb" -> Env.retainedHeapMb(),
        "rss_peak_mb" -> Env.rssPeakMb(),
        "attempted" -> plain.attempted,
        "failed" -> plain.failed) ++ env ++ plain.extra
      if (a.getOrElse("trace", "0") == "1") {
        System.gc()
        ctx.tracer.attach()
        val t0 = System.currentTimeMillis()
        val (traced, tenv) = phase("traced pass")(measured(w))
        val passMs = (System.currentTimeMillis() - t0).toDouble
        ctx.tracer.detach()
        val measuredLayers = w.layers(traced, ctx.tracer) ++ tenv ++
          Layers.spark(ctx.tracer) ++ Seq(
            "trace.overhead_pct" -> 100.0 * (traced.wallS / plain.wallS - 1.0),
            "trace.coverage" -> Layers.coverage(ctx.tracer, passMs))
        // a layer the workload does not exercise reads 0
        val layers = Layers.names.map(n => n -> measuredLayers.getOrElse(n, 0.0)).toMap
        Layers.writeSpans(ctx.tracer, s"${ctx.work}/spans.jsonl", s"${ctx.work}/jobs.jsonl")
        out ++= Seq("traced_attempted" -> traced.attempted, "traced_failed" -> traced.failed,
          "traced_wall_s" -> traced.wallS, "layers" -> layers)
        phase("after trace")(w.afterTrace())
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out("error") = e.toString
    } finally {
      spark.stop()
    }
    println(Json.render(out.toMap))
    if (out.contains("error")) sys.exit(1)
  }

  private val born = System.nanoTime()

  /** Runs `body`, logging how long it took. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"(at ${(System.nanoTime() - born) / 1e9}%.1f s)")
  }

  /** One pass with steal and GC time sampled around it. */
  private def measured(w: Workload): (Pass, Seq[(String, Double)]) = {
    val (s0, g0) = (Env.stealMs(), Env.gcMs())
    val p = w.pass()
    (p, Seq("env.steal_ms" -> (Env.stealMs() - s0).toDouble,
      "env.gc_ms" -> (Env.gcMs() - g0).toDouble))
  }
}

object Stats {
  /** Linearly interpolated percentile (numpy's default). */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (s.length - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: scala.collection.Seq[Double]): Double = pct(xs, 50)

  def millis(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Minimal JSON writer for the result line. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
