package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Date

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.analytics.Monitor
import graft.gen.Workload
import graft.streaming.{CdcPipeline, ChangeFeed, KeyedParquetStore}

/** The orders table both mirrors replicate, and the benchmark's own
  * last-write-wins image of it, computed without the CDC apply path. */
object Orders {
  val table = "orders"
  val asOf: Date = Date.valueOf("2026-01-01")

  def generate(ctx: Ctx, n: Long, startId: Long): DataFrame = {
    val spark = ctx.spark
    Workload.generateOrders(spark.range(1, 501).toDF("id"), spark.range(1, 101).toDF("id"),
      n, startId, ctx.seed, asOf)
  }

  /** A seeded after-image of `key` as written at `lsn`. */
  def afterJson(schema: StructType, seed: Long)(key: Column, lsn: Column): Column = {
    def draw(stream: Int, bound: Int) = pmod(hash(key, lsn, lit(stream), lit(seed)), lit(bound))
    to_json(struct(
      key.cast(schema("id").dataType).as("id"),
      date_sub(lit(asOf), draw(1, 30)).as("order_date"),
      (draw(2, 500) + 1).cast(schema("purchaser").dataType).as("purchaser"),
      (draw(3, 99) + 1).cast(schema("quantity").dataType).as("quantity"),
      (draw(4, 100) + 1).cast(schema("product_id").dataType).as("product_id")))
  }

  /** Last write wins over `base` rows (as of lsn 0) and change
    * envelopes: a key's row is its latest event's image, absent when
    * that event is a delete. */
  def image(base: DataFrame, changes: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fieldNames.toSeq
    val b = base.select(lit(0L).as("lsn"), lit("I").as("op"), col("id").cast("long").as("key"),
      struct(cols.map(col): _*).as("r"))
    val c = changes.select(col("lsn"), col("op"), col("key"),
      from_json(col("after"), schema).as("r"))
    b.unionByName(c)
      .withColumn("rn", row_number().over(Window.partitionBy("key").orderBy(col("lsn").desc)))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(cols.map(n => col(s"r.$n").as(n)): _*)
  }

  /** Row count and an order-free hash sum of a table's rows. */
  def fingerprint(df: DataFrame, schema: StructType): (Long, BigDecimal) = {
    val r = df.select(schema.fieldNames.toSeq.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(schema.fieldNames.toSeq.map(col): _*)
        .cast("decimal(38,0)")))
      .collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def dirBytes(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.map(Files.size).sum, fs.count(_.toString.endsWith(".parquet")).toLong)
    } finally s.close()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val d = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(d)
      else Files.copy(f, d, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.deleteIfExists(f))
      finally s.close()
    }
  }

}

/** `mirror`: the reference's CDC mirror end to end, against a store
  * large enough that rewriting it shows.
  *
  * Set-up snapshots a seeded orders store (`storeRows` rows, 16
  * buckets); every pass starts from a copy of it. A checkpointed
  * `CdcPipeline.start` mirror (hard deletes, one feed file per trigger)
  * tails an empty change feed. The client then works as a closed loop:
  * it lands one batch of `batchEvents` seeded events (40% insert, 20%
  * delete, 40% update of random existing keys) as one `ChangeFeed`
  * file, waits until the mirror has applied it (`processAllAvailable`),
  * and reads one live key by point lookup (`readForKeys`). A fully
  * materialized `Monitor.report` runs against the expected image after
  * the first and after the last batch. The first batch and its report
  * warm up and are not timed. The unit operation is one batch, timed from
  * landing to applied. */
final class Mirror(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val storeRows = 500000L
  val batchEvents = 1000
  /** Timed batches; about 1.7 s each on the reference box. Batch 0 is
    * an extra, untimed warm-up batch at the start of every pass. */
  val batches: Int = math.max(4, ctx.seconds / 2)
  private def pristine = s"${ctx.work}/pristine"
  private var passes = 0
  private var lastStore = ""

  private lazy val base: DataFrame = Orders.generate(ctx, storeRows, 1L).localCheckpoint(true)
  private lazy val schema: StructType = base.schema
  private lazy val changes: DataFrame =
    Workload.generateChanges(base.select("id"), Orders.table, (batches + 1L) * batchEvents, 1L,
      ctx.seed, Orders.afterJson(schema, ctx.seed), mix = (0.4, 0.2)).localCheckpoint(true)
  /** Per batch: (key, expected row) pairs to read after it. */
  private lazy val probes: Map[Int, Seq[(Long, Row)]] = chooseProbes()

  private def lsnEnd(b: Int): Long = (b + 1).toLong * batchEvents
  private def batch(b: Int): DataFrame =
    changes.filter(col("lsn") > lsnEnd(b) - batchEvents && col("lsn") <= lsnEnd(b))

  override def prepare(): Unit = {
    Main.phase("generate orders")(base.count())
    Main.phase("generate changes")(changes.count())
    Main.phase("choose lookups")(probes)
  }

  /** The engine's set-up: snapshot the base image into the store. */
  def setup(): Double = {
    Orders.deleteTree(pristine)
    val t0 = System.nanoTime()
    new KeyedParquetStore(pristine).snapshot(spark, Orders.table, base, "id")
    (System.nanoTime() - t0) / 1e9
  }

  /** One lookup key per batch: after an even batch, a key that batch
    * upserted; after an odd one, a stored row no batch touches. */
  private def chooseProbes(): Map[Int, Seq[(Long, Row)]] = {
    val cols = schema.fieldNames.toSeq
    val rank = xxhash64(col("key"), lit(ctx.seed))
    val fresh = changes
      .withColumn("b", ((col("lsn") - 1) / batchEvents).cast("int"))
      .filter(col("b") % 2 === 0)
      .withColumn("rn", row_number().over(Window.partitionBy("b", "key").orderBy(col("lsn").desc)))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .withColumn("pick", row_number().over(Window.partitionBy("b").orderBy(rank)))
      .filter(col("pick") === 1)
      .select(col("b"), col("key"), from_json(col("after"), schema).as("r"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getStruct(2)))
    val untouched = base.withColumnRenamed("id", "key")
      .join(changes.select("key").distinct(), Seq("key"), "left_anti")
      .orderBy(rank).limit((batches + 1) / 2)
      .select(col("key"), struct((col("key").as("id") +: cols.tail.map(col)): _*).as("r"))
      .collect().zipWithIndex
      .map { case (r, i) => (2 * i + 1, r.getLong(0), r.getStruct(1)) }
    (fresh ++ untouched).groupBy(_._1).map { case (b, xs) => b -> xs.toSeq.map(x => (x._2, x._3)) }
  }

  private def fresh(tag: String): KeyedParquetStore = {
    val root = s"${ctx.work}/store_$tag"
    Orders.deleteTree(root)
    Orders.copyTree(pristine, root)
    new KeyedParquetStore(root)
  }

  private def lookup(store: KeyedParquetStore, k: Long): Array[Row] =
    store.readForKeys(spark, Orders.table, Seq(k).toDF("id"), "id")
      .filter(col("id") === k).collect()

  /** Runs the closed loop over batches 0..`batches` against a fresh
    * store copy; batch 0 and a report after it warm up, untimed.
    * Returns the store, the expected image after the last batch, and the
    * latencies of batches, lookups and reports. */
  private def loop(tag: String, p: Pass)
      : (KeyedParquetStore, DataFrame, Seq[Double], Seq[Double], Seq[Double]) = {
    val t = ctx.tracer
    val store = t.span("prepare", "bench")(fresh(tag))
    val feed = s"${ctx.work}/feed_$tag"
    Orders.deleteTree(feed)
    Files.createDirectories(Paths.get(feed))
    val (ops, look, mon) = (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double],
      mutable.ArrayBuffer.empty[Double])
    var img: DataFrame = null
    t.span("mirror", "stream") {
      val q = CdcPipeline.start(ChangeFeed.stream(spark, feed, maxFilesPerTrigger = 1), store,
        Map(Orders.table -> schema), Map(Orders.table -> "id"), s"perfbench_$tag",
        s"${ctx.work}/ckpt_$tag")
      t.bindGroup(q.runId.toString)
      try (0 to batches).foreach { b =>
        val timed = b > 0
        p.attempted += 1
        t.span("land", "bench")(ChangeFeed.publish(batch(b).coalesce(1), feed))
        val t0 = System.nanoTime()
        try t.span("batch", "stream")(q.processAllAvailable())
        catch { case e: Exception => p.fail(s"batch $b: $e") }
        if (timed) ops += Stats.millis(t0)
        probes.getOrElse(b, Nil).foreach { case (k, want) =>
          p.attempted += 1
          val l0 = System.nanoTime()
          val got = try t.span("lookup", "read")(lookup(store, k)) catch {
            case e: Exception => p.fail(s"lookup $k: $e"); Array.empty[Row] }
          if (timed) look += Stats.millis(l0)
          if (got.length != 1 || got.head != want)
            p.fail(s"lookup $k after batch $b: ${got.mkString} != $want")
        }
        if (b == 0 || b == batches) {
          p.attempted += 1
          img = t.span("expected_image", "bench") {
            Orders.image(base, changes.filter(col("lsn") <= lsnEnd(b)), schema)
              .localCheckpoint(true)
          }
          val want = img.count()
          val m0 = System.nanoTime()
          val lag = try t.span("monitor", "monitor") {
            Monitor.report(spark, store, Map(Orders.table -> img))
              .map { case (k, df) => k -> df.collect() }.apply("lag")
          } catch { case e: Exception => p.fail(s"monitor: $e"); Array.empty[Row] }
          if (timed) mon += Stats.millis(m0)
          val ok = lag.length == 1 &&
            lag.head.getAs[Long]("src_rows") == want && lag.head.getAs[Long]("tgt_rows") == want
          if (!ok) p.fail(s"monitor after batch $b: ${lag.mkString} vs $want rows")
        }
      }
      finally q.stop()
    }
    (store, img, ops.toSeq, look.toSeq, mon.toSeq)
  }

  /** Each pass warms up on its own batch 0. */
  def warm(): Unit = ()

  def pass(): Pass = {
    val p = new Pass
    passes += 1
    val (store, img, ops, look, mon) = loop(s"p$passes", p)
    lastStore = store.root
    p.ops ++= ops
    p.wallS = (ops.sum + look.sum + mon.sum) / 1000.0
    val (got, want) = ctx.tracer.span("final_check", "bench") {
      (Orders.fingerprint(store.read(spark, Orders.table), schema), Orders.fingerprint(img, schema))
    }
    if (got != want) {
      p.failed += batches + 1
      System.err.println(s"[perfbench] FAILED store $got != expected image $want")
    }
    p.extra ++= Seq(
      "rows_per_s" -> batches.toDouble * batchEvents / (ops.sum / 1000.0),
      "lookup_p50_ms" -> Stats.pct(look, 50),
      "lookup_p90_ms" -> Stats.pct(look, 90),
      "lookups" -> look.length.toDouble,
      "monitor_p50_ms" -> Stats.median(mon),
      "store_bytes_per_row" -> Orders.dirBytes(store.root)._1.toDouble / math.max(1L, got._1))
    p
  }

  def layers(p: Pass, t: Tracer): Map[String, Double] = {
    val ix = new Layers.Index(t)
    val trig = ix.named("stream.trigger")
    val n = math.max(1, trig.length).toDouble
    def phase(name: String) = ix.named(s"stream.$name").map(Layers.dur).sum / n
    val add = ix.named("stream.addBatch")
    val addMs = add.map(Layers.dur).sum
    // the stream's jobs run under its run id, bound to the mirror span;
    // the file source lists and plans without jobs, so all are apply work
    val applyJobs = ix.named("mirror").flatMap(m => ix.jobsOf(m.id))
    val look = ix.named("lookup")
    val lookJobs = look.flatMap(l => ix.jobsUnder(l.id))
    val mon = ix.named("monitor")
    val monJobs = mon.flatMap(m => ix.jobsUnder(m.id))
    val nl = math.max(1, look.length).toDouble
    val nm = math.max(1, mon.length).toDouble
    val rows = (batches + 1.0) * batchEvents
    val io = t.files.asScala.toSeq.filter { case (st, _, _) =>
      add.exists(a => a.start <= st && st <= a.end) }
    val lookIo = t.files.asScala.toSeq.filter { case (st, _, _) =>
      look.exists(a => a.start <= st && st <= a.end) }
    Map(
      "stream.latest_offset_ms" -> phase("latestOffset"),
      "stream.get_batch_ms" -> phase("getBatch"),
      "stream.planning_ms" -> phase("queryPlanning"),
      "stream.add_batch_ms" -> phase("addBatch"),
      "stream.wal_commit_ms" -> phase("walCommit"),
      "stream.commit_offsets_ms" -> phase("commitOffsets"),
      "stream.ckpt_bytes" -> Orders.dirBytes(s"${ctx.work}/ckpt_p$passes")._1.toDouble,
      "apply.ms" -> addMs / n,
      "apply.jobs_per_batch" -> applyJobs.length / n,
      "apply.tasks_per_batch" -> applyJobs.map(_.tasks).sum / n,
      "apply.core_util" ->
        (if (addMs <= 0) 0.0 else applyJobs.map(_.runMs).sum / (addMs * ctx.cores)),
      "mirror.rows_per_s" -> p.extra("rows_per_s"),
      "store.bytes_written_per_row" -> applyJobs.map(_.outputBytes).sum / rows,
      "store.bytes_read_per_row" -> io.map(_._3).sum / rows,
      "store.files_written_per_batch" -> io.map(_._2).sum / n,
      "store.files" -> Orders.dirBytes(lastStore)._2.toDouble,
      "store.bytes_per_row" -> p.extra("store_bytes_per_row"),
      "read.bytes_per_lookup" -> lookIo.map(_._3).sum / nl,
      "read.jobs_per_lookup" -> lookJobs.length / nl,
      "read.lookup_p50_ms" -> p.extra("lookup_p50_ms"),
      "read.lookup_p90_ms" -> p.extra("lookup_p90_ms"),
      "monitor.jobs" -> monJobs.length / nm,
      "monitor.bytes_read" -> monJobs.map(_.inputBytes).sum / nm,
      "monitor.p50_ms" -> p.extra("monitor_p50_ms"))
  }
}
