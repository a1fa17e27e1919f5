package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.sources.Tables

/** `catalog`: a fixed sample of the `SparkEntry.queries` catalog on the
  * parquet corpus, each result fully materialized through the noop sink.
  *
  * A full pass (239 queries) takes about four minutes on four cores,
  * longer than one run may last, so a run times a sample. The catalog is
  * dealt into `shards` shards by per-query reference times (`weights`,
  * seconds on the reference box): queries sorted slowest first are dealt
  * snake-wise (0..k-1, k-1..0, ...), so every shard holds the same mix of
  * heavy and light queries; a query without a weight goes to the shard its
  * name hashes to. The sample is shard 0, run in seed order. It is fixed
  * because a seed-picked shard made the figures spread 20-50% across
  * seeds: shards differ in which queries they hold, not only in their
  * totals. The shard count follows from `--seconds` and the weights, never
  * from the clock, so a faster engine is timed on the same queries.
  */
final class Catalog(ctx: Ctx, weights: Map[String, Double]) extends Workload {
  import ctx.spark

  val names: Seq[String] = SparkEntry.queries.keySet.toSeq.sorted
  /** A query run once, cold, takes about this much longer than the
    * warm median its weight records. */
  val coldFactor = 1.25
  val shards: Int = math.max(1, math.ceil(coldFactor * weights.values.sum / ctx.seconds).toInt)
  private val shardOf: Map[String, Int] = {
    val dealt = names.filter(weights.contains).sortBy(n => (-weights(n), n)).zipWithIndex
      .map { case (n, i) =>
        val (round, at) = (i / shards, i % shards)
        n -> (if (round % 2 == 0) at else shards - 1 - at)
      }.toMap
    names.map(n => n -> dealt.getOrElse(n, math.floorMod(n.hashCode, shards))).toMap
  }
  val sample: Seq[String] = new scala.util.Random(ctx.seed).shuffle(names.filter(shardOf(_) == 0))
  private val rows = mutable.LinkedHashMap.empty[String, Long]

  def setup(): Double = {
    val t0 = System.nanoTime()
    Tables.all.foreach(t => Tables.load(spark, ctx.corpus, t).count())
    (System.nanoTime() - t0) / 1e9
  }

  /** Warms up on the two lightest queries of shard 1, so no timed query
    * runs twice. */
  def warm(): Unit =
    names.filter(shardOf(_) == 1 % shards)
      .sortBy(n => weights.getOrElse(n, Double.MaxValue)).take(2).foreach { n =>
      try SparkEntry.queries(n)(spark, ctx.corpus).write.format("noop").mode("overwrite").save()
      catch { case _: Exception => () }
      sweep()
    }

  def pass(): Pass = {
    val p = new Pass
    val t = ctx.tracer
    sample.foreach { name =>
      p.attempted += 1
      val q0 = System.nanoTime()
      try {
        val n = t.span(name, "operators") {
          val df = t.span("build", "operators")(SparkEntry.queries(name)(spark, ctx.corpus))
          t.span("exec", "operators") {
            val obs = Observation(s"rows_$name")
            df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
            obs.get("rows").asInstanceOf[Long]
          }
        }
        p.ops += Stats.millis(q0)
        rows(name) = n
      } catch {
        case e: Exception =>
          p.ops += Stats.millis(q0)
          p.fail(s"$name: $e")
      }
      t.span("sweep", "bench")(sweep())
    }
    p.wallS = p.ops.sum / 1000.0
    p.extra("queries") = sample.length.toDouble
    writeOracle()
    p
  }

  /** Blocks a query persisted are dead once it finished; drop them, as
    * the engine's own Bench does, so they do not slow the next query. */
  private def sweep(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    org.apache.spark.sql.graftbridge.Bridge.removeAllBroadcasts(blocking = true)
  }

  /** The sample's oracle SQL and the row counts the pass produced, for
    * `run.py` to check against DuckDB. */
  private def writeOracle(): Unit = {
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"${ctx.work}/catalog_check.json"), Json.render(Map(
      "oracle" -> sample.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "rows" -> rows.toMap,
      "queries" -> sample)))
  }

  /** Dumps each sampled query's result as parquet for the value check. */
  override def afterTrace(): Unit = sample.foreach { name =>
    try SparkEntry.queries(name)(spark, ctx.corpus).coalesce(1).write.mode("overwrite")
      .parquet(s"${ctx.work}/results/$name")
    catch { case e: Exception => System.err.println(s"[perfbench] dump $name: $e") }
    sweep()
  }

  def layers(p: Pass, t: Tracer): Map[String, Double] = {
    val ix = new Layers.Index(t)
    val qs = ix.spans.filter(s => s.parent == -1 && s.layer == "operators")
    val n = math.max(1, qs.length).toDouble
    def kids(name: String) = qs.flatMap(q => ix.children(q.id).filter(_.name == name))
    val qJobs = qs.flatMap(q => ix.jobsUnder(q.id))
    val buildJobs = kids("build").flatMap(b => ix.jobsUnder(b.id))
    val wallMs = qs.map(Layers.dur).sum
    Map(
      "query.build_ms" -> kids("build").map(Layers.dur).sum / n,
      "query.exec_ms" -> kids("exec").map(Layers.dur).sum / n,
      "query.planning_ms" -> qs.map(q => ix.planningUnder(q.id)).sum / n,
      "query.jobs" -> qJobs.length / n,
      "query.build_jobs" -> buildJobs.length / n,
      "query.stages" -> qJobs.map(_.stages).sum / n,
      "query.tasks" -> qJobs.map(_.tasks).sum / n,
      "query.single_task_jobs" -> qJobs.count(_.tasks <= 1) / n,
      "query.core_util" ->
        (if (wallMs <= 0) 0.0 else qJobs.map(_.runMs).sum.toDouble / (wallMs * ctx.cores)),
      "query.shuffle_bytes" -> qJobs.map(_.shuffleWriteBytes).sum / n)
  }
}

object Catalog {
  /** Reads a flat JSON object of query name to seconds. */
  def weights(path: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
}
