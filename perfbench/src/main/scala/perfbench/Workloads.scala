package perfbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.meter.{GenConfig, MeterGen, MeterStore, Rollups}
import graft.plans.RollupRouting
import graft.sources.ParquetSink
import graft.streaming.MeterStream

/** Input sizes. `Full` is what the gated runs use; `Smoke` exercises the
  * same paths in a few seconds. */
final case class Scale(
    streamMeters: Int,         // fleet size = transmissions per micro-batch
    streamBatches: Int,        // micro-batches per round
    storeMeters: Int,
    storeTicks: Int,           // seconds in the store, from Main's fixed start
    rangeMeters: Int,          // meters per rawRange extraction
    rangeSeconds: Int,         // seconds per rawRange window
    probeBatches: Int,         // micro-batches the traced run's stream probe feeds
    thorough: Boolean)         // warm up, and repeat set-ups (off for the smoke run)

object Scale {
  val Full = Scale(
    streamMeters = 50, streamBatches = 6, storeMeters = 4, storeTicks = 300,
    rangeMeters = 2, rangeSeconds = 60, probeBatches = 5, thorough = true)
  val Smoke = Scale(
    streamMeters = 4, streamBatches = 3, storeMeters = 2, storeTicks = 120,
    rangeMeters = 1, rangeSeconds = 20, probeBatches = 3, thorough = false)
}

object Common {
  /** 2024-01-01T00:00:00Z: where `graft.Main`'s generator starts. */
  val MainEpoch = 1704067200L
  val Tables: Seq[String] = "meter_samples" +: Seq("second", "minute", "hour", "day")
    .map(g => s"meter_samples_$g")

  def tableDirs(dir: File): Seq[File] = Tables.map(new File(dir, _))

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** Time and check an energy report at each grain over `store`; wall
    * and CPU times go to `ms` and `cpuMs`. */
  def reports(ctx: Ctx, store: MeterStore, meters: Seq[Int], t0: Long, ticks: Long,
      ms: ArrayBuffer[Double], cpuMs: ArrayBuffer[Double]): Unit =
    Expect.ReportGrains.foreach { g =>
      ctx.keep(ctx.timed(s"energyReport($g)")(store.energyReport(ctx.spark, g).collect())(
        rows => Expect.report(rows, g, meters, t0, ticks))).foreach { x =>
        ms += x.ms; cpuMs += x.cpuMs
      }
    }
}

/** Streaming ingest: fixed-size micro-batches, each one second of a fixed
  * fleet, through `MeterStream.toSecond` → `MeterStream.writeRollups`.
  * The source maps offsets to (said, datetime) as `rateTransmissions`
  * does and builds the arrays with `MeterGen.wattsExpr`, but nothing
  * paces it: a closed loop feeds the next batch once the last one has
  * committed. Each round is a fresh query over a fresh store, read back
  * with reports at the end. */
final class StreamIngest(ctx: Ctx, seed: Long, scale: Scale) extends Workload {
  private val meters = scale.streamMeters
  private val fleet = Expect.fleet(meters)
  /** A seeded second of 2024; a round's batches may cross a minute, hour
    * or day boundary, which the expected bucket counts follow. */
  val t0: Long = Common.MainEpoch + Math.floorMod(seed * 7919L + 13L, 366L * 86400L)
  private val cfg = GenConfig(numMeters = meters, startSaid = fleet.head,
    startEpochSec = t0, ticks = scale.streamBatches)
  private val batchMs, batchCpuMs, readMs, readCpuMs, bytesPerTx = ArrayBuffer.empty[Double]
  private val all = ArrayBuffer.empty[Sample]
  private var committed = 0L
  private var query: Option[(MemoryStream[Long], StreamingQuery, File)] = None

  /** Start the meter stream over a fresh store; returns its source. */
  def start(): (MemoryStream[Long], StreamingQuery, File) = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = ctx.freshDir("stream")
    val input = MemoryStream[Long]
    val raw = input.toDF().select(
        (col("value") % meters + fleet.head).cast("int").as("said"),
        timestamp_seconds(expr(s"value DIV $meters") + t0).as("datetime"))
      .withColumn("watts", MeterGen.wattsExpr(cfg))
    val q = MeterStream.writeRollups(MeterStream.toSecond(raw, cfg), dir.getPath,
      new File(dir, "_checkpoint").getPath).start()
    q.processAllAvailable()
    (input, q, dir)
  }

  /** Feed second `k` of the fleet and wait until its batch commits. */
  def feed(input: MemoryStream[Long], q: StreamingQuery, k: Long): Option[Sample] =
    ctx.timed("micro-batch") {
      input.addData((k * meters until (k + 1) * meters).map(_.toLong): _*)
      q.processAllAvailable()
    }(_ => None)

  /** One round: `batches` seconds fed in order (`repeat` feeds one of them
    * a second time, which the checks must reject), then read back. */
  def runRound(batches: Int, repeat: Option[Long] = None): Unit = {
    val (input, q, dir) = query.getOrElse(start())
    query = None
    try {
      ((0L until batches) ++ repeat).foreach { k =>
        ctx.keep(feed(input, q, k)).foreach { s =>
          batchMs += s.ms; batchCpuMs += s.cpuMs; all += s; committed += meters
        }
      }
    } finally q.stop()
    val store = MeterStore(dir.getPath)
    if (ctx.ops.check("stream second table")(
        Expect.secondTable(store.table(ctx.spark, "second"), fleet, t0, batches))) {
      Common.reports(ctx, store, fleet, t0, batches, readMs, readCpuMs)
      if (ctx.ops.counting)
        bytesPerTx += Disk.bytes(Common.tableDirs(dir).tail).toDouble / (meters.toLong * batches)
    }
    Disk.delete(dir)
  }

  def warmUp(): Unit = runRound(math.max(1, scale.streamBatches / 2))
  /** A started stream over a fresh store, ready for its first batch. The
    * session stays: the first batches in a new session run several times
    * slower than later ones, and a round measures a running service. */
  def setUp(): Unit = {
    query.foreach { case (_, q, dir) => q.stop(); Disk.delete(dir) }
    query = Some(start())
  }
  def round(): Unit = runRound(scale.streamBatches)
  def warmRounds: Int = 0
  def samples: Seq[Sample] = all.toSeq
  def roundSeconds: Double = 8.0
  def setUps: Int = 7

  private def txPerS = committed / (batchMs.sum / 1000)
  def endToEnd(setupS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("op_cpu_ms", Common.p50(batchCpuMs.toSeq), "ms"),
    ("read_cpu_ms", Common.p50(readCpuMs.toSeq), "ms"),
    ("bytes_per_tx", Common.p50(bytesPerTx.toSeq), "B/tx"))

  def named(setupS: Double): Seq[(String, Double, String)] = Seq(
    ("stream_tx_per_s", txPerS, "tx/s"),
    ("microbatch_p50_ms", Common.p50(batchMs.toSeq), "ms"),
    ("read_p50_ms", Common.p50(readMs.toSeq), "ms"),
    ("t0_epoch_s", t0.toDouble, "s"))
}

/** A store written by the program's batch entry point, `graft.Main`,
  * exactly as a user runs it (the set-up), then a seeded mix of reads:
  * raw extractions (`MeterStore.rawRange`, arrays fully materialized into
  * the noop sink) and energy reports at minute, hour, day and month grain,
  * plus a month report written against the second table that
  * `RollupRouting` must route to the day rollup. */
final class StoreQuery(ctx: Ctx, seed: Long, scale: Scale) extends Workload {
  private val meters = scale.storeMeters
  private val ticks = scale.storeTicks
  private val fleet = Expect.fleet(meters)
  private val rnd = new scala.util.Random(seed)
  /** Main's command line fixes the start and the meter ids. */
  private val t0 = Common.MainEpoch
  val cfg = GenConfig(numMeters = meters, startSaid = fleet.head, startEpochSec = t0,
    ticks = ticks.toLong)

  import StoreQuery.Range
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def ts(s: Long): String = fmt.format(Instant.ofEpochSecond(s))

  /** Three extractions per round and five reports, in a seeded order that
    * every round repeats. The seed picks the meters and the order; the
    * windows sit at fixed offsets (the start, the middle and the end of
    * the range), so every seed reads the same number of files and rows. */
  val ranges: Seq[Range] = {
    def pick(from: Long) = Range(
      rnd.shuffle(fleet.toList).take(scale.rangeMeters).sorted, from, scale.rangeSeconds)
    val w = scale.rangeSeconds
    Seq(pick(t0 + w / 2), pick(t0 + (ticks - w) / 2), pick(t0 + ticks - 3 * w / 2))
  }
  private val mix: Seq[Either[Range, String]] =
    rnd.shuffle(ranges.map(Left(_)) ++ (Expect.ReportGrains :+ "routed_month").map(Right(_)))

  private var store: Option[(File, MeterStore)] = None
  private var second: DataFrame = _
  private var monthFromDay: Map[(Int, Long), Long] = Map.empty
  private val rangeMs, rangeCpuMs, reportMs, reportCpuMs = ArrayBuffer.empty[Double]
  private val all = ArrayBuffer.empty[Sample]
  private var rangeRows = 0L
  private var storeBytesPerTx = 0.0

  /** One `graft.Main` call writing `c.numMeters` × `c.ticks` into `dir`.
    * Main reuses the live session and stops it when it is done. */
  def mainStore(c: GenConfig, dir: File): Unit = {
    ctx.spark
    graft.Main.main(Array(c.numMeters.toString, c.ticks.toString, dir.getPath))
  }

  /** `graft.Main`'s batch branch, statement for statement, over `cfg`: the
    * layer probes time its two halves apart. */
  def writeStore(spark: SparkSession, c: GenConfig, dir: File): Unit = {
    writeRaw(spark, c, dir)
    writeRollups(spark, c, dir)
  }

  def sink(dir: File) = new ParquetSink(dir.getPath, Map("meter_samples" -> Seq("dt", "said_bucket")))

  def writeRaw(spark: SparkSession, c: GenConfig, dir: File): Unit =
    sink(dir).write(MeterGen.transmissions(spark, c)
      .withColumn("dt", to_date(col("datetime")))
      .withColumn("said_bucket", pmod(col("said"), lit(16))), "meter_samples")

  def writeRollups(spark: SparkSession, c: GenConfig, dir: File): Unit = {
    val out = sink(dir)
    Rollups.all(MeterGen.secondTable(spark, c)).foreach { case (grain, df) =>
      out.write(if (grain == "second") df else df.coalesce(1), s"meter_samples_$grain")
    }
  }

  /** Install routing over the store's four grain tables. */
  def route(s: MeterStore): Unit = {
    val spark = ctx.spark
    second = s.table(spark, "second")
    RollupRouting.install(spark, Map("second" -> second) ++
      Seq("minute", "hour", "day").map(g => g -> s.table(spark, g)))
  }

  def routedMonth(): DataFrame =
    second.groupBy(col("said"), date_trunc("month", col("datetime")).as("datetime"))
      .agg(sum(col("joules")).as("joules"))

  def extract(r: Range, s: MeterStore): Option[Sample] = {
    val obs = Observation()
    ctx.timed(s"rawRange(${r.saids.mkString(",")}, ${ts(r.from)}, +${r.seconds}s)") {
      s.rawRange(ctx.spark, r.saids, ts(r.from), ts(r.from + r.seconds))
        .observe(obs, count(lit(1)).as("rows"), sum(size(col("watts"))).as("samples"))
        .write.format("noop").mode("overwrite").save()
    } { _ =>
      val m = obs.get
      Expect.rawRange(m("rows").asInstanceOf[Long], m("samples").asInstanceOf[Long],
        r.saids.size, r.seconds)
    }
  }

  /** The routed month report must equal the day table summed to month,
    * and its plan must read the day rollup and nothing else. */
  def checkRouted(df: DataFrame, rows: Array[org.apache.spark.sql.Row]): Option[String] = {
    val files = df.inputFiles.toSeq
    val got = rows.map(r => (r.getAs[Number]("said").intValue,
      r.getAs[java.sql.Timestamp]("datetime").getTime / 1000) -> r.getAs[Number]("joules").longValue).toMap
    if (files.isEmpty || !files.forall(_.contains("/meter_samples_day/")))
      Some(s"routed month report reads ${files.take(2).mkString(", ")}…, not the day rollup")
    else if (got != monthFromDay) Some("routed month report differs from the day table summed to month")
    else Expect.report(rows, "month", fleet, t0, ticks)
  }

  private def runMix(s: MeterStore): Unit = mix.foreach {
    case Left(r) =>
      ctx.keep(extract(r, s)).foreach { x =>
        rangeMs += x.ms; rangeCpuMs += x.cpuMs; all += x; rangeRows += r.saids.size * r.seconds
      }
    case Right("routed_month") =>
      val df = routedMonth()
      ctx.keep(ctx.timed("routed month report")(df.collect())(rows => checkRouted(df, rows)))
        .foreach { x => reportMs += x.ms; reportCpuMs += x.cpuMs; all += x }
    case Right(g) =>
      ctx.keep(ctx.timed(s"energyReport($g)")(s.energyReport(ctx.spark, g).collect())(
        rows => Expect.report(rows, g, fleet, t0, ticks))).foreach { x =>
          reportMs += x.ms; reportCpuMs += x.cpuMs; all += x
        }
  }

  /** Month totals of the day table, summed here from its rows. */
  private def sumDayToMonth(s: MeterStore): Map[(Int, Long), Long] =
    s.table(ctx.spark, "day").collect().toSeq.map { r =>
      val day = r.getAs[java.sql.Timestamp]("datetime").toInstant.atOffset(ZoneOffset.UTC)
      val month = day.toLocalDate.withDayOfMonth(1).atStartOfDay(ZoneOffset.UTC).toEpochSecond
      (r.getAs[Number]("said").intValue, month) -> r.getAs[Number]("joules").longValue
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Deep, untimed check of the store and of every extraction's content. */
  private def verify(s: MeterStore): Unit = {
    val spark = ctx.spark
    ctx.ops.check("store raw table")(Expect.rawTable(s.raw(spark), fleet, t0, ticks))
    ctx.ops.check("store second table")(Expect.secondTable(s.table(spark, "second"), fleet, t0, ticks))
    ranges.foreach { r =>
      ctx.ops.check(s"rawRange content from ${ts(r.from)}")(Expect.rawTable(
        s.rawRange(spark, r.saids, ts(r.from), ts(r.from + r.seconds)), r.saids, r.from, r.seconds))
    }
  }

  /** Routing installed and the expected month totals summed from the day
    * table: what the routed month report is checked against. */
  def prepare(s: MeterStore): Unit = {
    route(s)
    monthFromDay = sumDayToMonth(s)
  }

  /** The set-up once, untimed: a JVM's first `Main` call runs about twice
    * as long as later ones. The reads warm up in [[warmRounds]]. */
  def warmUp(): Unit = setUp()

  /** A fresh store, written by `graft.Main`. */
  def setUp(): Unit = {
    store.foreach { case (dir, _) => Disk.delete(dir) }
    val dir = ctx.freshDir("store")
    mainStore(cfg, dir)
    store = Some((dir, MeterStore(dir.getPath)))
  }

  override def ready(): Unit = {
    val (dir, s) = store.get
    verify(s)
    prepare(s)
    storeBytesPerTx = Disk.bytes(Common.tableDirs(dir)).toDouble / (meters.toLong * ticks)
  }
  def round(): Unit = runMix(store.get._2)
  def warmRounds: Int = 3
  def samples: Seq[Sample] = all.toSeq
  def roundSeconds: Double = 1.8
  def setUps: Int = 3

  private def txPerS = rangeRows / (rangeMs.sum / 1000)
  def endToEnd(setupS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("op_cpu_ms", Common.p50(rangeCpuMs.toSeq), "ms"),
    ("read_cpu_ms", Common.p50(reportCpuMs.toSeq), "ms"),
    ("bytes_per_tx", storeBytesPerTx, "B/tx"))

  def named(setupS: Double): Seq[(String, Double, String)] = Seq(
    ("ingest_tx_per_s", meters.toLong * ticks / setupS, "tx/s"),
    ("rawrange_tx_per_s", txPerS, "tx/s"),
    ("rawrange_p50_ms", Common.p50(rangeMs.toSeq), "ms"),
    ("report_p50_ms", Common.p50(reportMs.toSeq), "ms"),
    ("store_bytes_per_tx", storeBytesPerTx, "B/tx"))
}

object StoreQuery {
  /** One raw extraction: these meters over [from, from + seconds). */
  final case class Range(saids: Seq[Int], from: Long, seconds: Int)
}
