package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.meter.{MeterGen, MeterStore}
import graft.plans.RollupRouting

/** The traced run's layer-by-layer profile: each layer's public function
  * called alone, on the store_query store's input and on the
  * stream_ingest fleet, with the listeners on. Self
  * times subtract the generation every write and reduction includes. */
object Probes {
  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx, seed: Long, scale: Scale): Seq[(String, Double, String)] = {
    val q = new StoreQuery(ctx, seed, scale)
    val cfg = q.cfg
    val tx = cfg.numMeters * cfg.ticks.toDouble
    def reps(what: String, n: Int = 2)(body: => Unit): Seq[Sample] =
      (1 to n).flatMap(_ => ctx.timed(what)(body)(_ => None))
    def p50(s: Seq[Sample]) = Common.p50(s.map(_.ms))
    def p50w(s: Seq[Sample])(f: Window => Double) = Common.p50(s.flatMap(_.window).map(f))
    val spark = ctx.spark

    // MeterGen: generation alone, then generation + reduction; count()
    // beside noop shows how much of the arrays a count() never builds.
    val gen = p50(reps("generate noop")(noop(MeterGen.transmissions(spark, cfg))))
    val counted = p50(reps("generate count")(MeterGen.transmissions(spark, cfg).count()))
    val genReduce = p50(reps("generate+reduce noop")(
      noop(MeterGen.reduceToSecond(MeterGen.transmissions(spark, cfg), cfg))))

    // ParquetSink: the raw table write, then the rollups, as Main composes them.
    val dir = ctx.freshDir("probe")
    val rawWrite = p50(reps("ParquetSink raw write", 1)(q.writeRaw(spark, cfg, dir)))
    val rawFiles = Disk.dataFiles(new File(dir, "meter_samples"))
    val rawBytes = rawFiles.map(_.length).sum
    val rollups = reps("Rollups write", 1)(q.writeRollups(spark, cfg, dir))

    // MeterStore over that store.
    val store = MeterStore(dir.getPath)
    q.prepare(store)
    val ranges = q.ranges.map { r =>
      val s = q.extract(r, store)
      (s, ctx.scans.lastFilesRead)
    }
    val reports = Expect.ReportGrains.map { g =>
      g -> reps(s"energyReport($g)")(store.energyReport(spark, g).collect().length)
    }
    val routed = reps("routed month") {
      val df = q.routedMonth()
      val rows = df.collect()
      q.checkRouted(df, rows).foreach(why => ctx.ops.fail("routed month", why))
    }
    RollupRouting.uninstall(spark)
    val unrouted = reps("unrouted month")(q.routedMonth().collect().length)

    // MeterStream: fed batches, split by the query's own progress reports.
    val st = new StreamIngest(ctx, seed, scale)
    val (input, sq, sdir) = st.start()
    val batches = try (0 until scale.probeBatches).flatMap { k =>
      st.feed(input, sq, k).map { s =>
        val id = sq.lastProgress.batchId
        s -> Common.Tables.tail.map(t => Disk.dataFiles(new File(sdir, s"$t/batch=$id")).size).sum
      }
    } finally sq.stop()
    val progress = sq.recentProgress.filter(_.numInputRows > 0).toSeq
    def split(k: String) = Common.p50(progress.flatMap(p =>
      Option(p.durationMs.asScala.get(k)).flatten.map(_.doubleValue)))
    ctx.ops.check("stream probe second table")(Expect.secondTable(
      MeterStore(sdir.getPath).table(spark, "second"), Expect.fleet(scale.streamMeters),
      st.t0, scale.probeBatches))
    Disk.delete(sdir)
    Disk.delete(dir)

    Seq(
      ("MeterGen.generate_tx_per_s", tx / (gen / 1000), "tx/s"),
      ("MeterGen.reduce_tx_per_s", tx / ((genReduce - gen) / 1000), "tx/s"),
      ("MeterGen.count_over_noop", counted / gen, "ratio"),
      ("ParquetSink.raw_write_s", (rawWrite - gen) / 1000, "s"),
      ("ParquetSink.raw_bytes", rawBytes.toDouble, "bytes"),
      ("ParquetSink.raw_files", rawFiles.size.toDouble, "count"),
      ("Rollups.write_s", p50(rollups) / 1000, "s"),
      ("Rollups.jobs", p50w(rollups)(_.jobs.toDouble), "count"),
      ("Rollups.shuffle_bytes", p50w(rollups)(_.shuffleWriteBytes.toDouble), "bytes"),
      ("MeterStream.addBatch_p50_ms", split("addBatch"), "ms"),
      ("MeterStream.queryPlanning_p50_ms", split("queryPlanning"), "ms"),
      ("MeterStream.walCommit_p50_ms", split("walCommit"), "ms"),
      ("MeterStream.commitOffsets_p50_ms", split("commitOffsets"), "ms"),
      ("MeterStream.jobs_per_batch", p50w(batches.map(_._1))(_.jobs.toDouble), "count"),
      ("MeterStream.files_per_batch", Common.p50(batches.map(_._2.toDouble)), "count"),
      ("MeterStore.rawRange_bytes_read",
        p50w(ranges.flatMap(_._1))(_.bytesRead.toDouble), "bytes"),
      ("MeterStore.rawRange_files_read", Common.p50(ranges.map(_._2.toDouble)), "count")) ++
    reports.map { case (g, s) => (s"MeterStore.report_${g}_p50_ms", p50(s), "ms") } ++
    Seq(
      ("MeterStore.report_jobs", p50w(reports.flatMap(_._2))(_.jobs.toDouble), "count"),
      ("RollupRouting.routed_month_p50_ms", p50(routed), "ms"),
      ("RollupRouting.unrouted_month_p50_ms", p50(unrouted), "ms"))
  }
}
