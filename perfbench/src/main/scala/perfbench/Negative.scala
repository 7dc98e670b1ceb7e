package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.meter.MeterStore

/** Each workload's checks, shown to reject corrupted output. A case
  * passes when its check records a failure; the mode succeeds only when
  * every case does. */
object Negative {
  def run(a: Run.Args, scale: Scale): Boolean = {
    val ctx = new Ctx(a.out, trace = false)
    def rejects(name: String)(corrupt: => Unit): Boolean = {
      val before = ctx.ops.errors.size
      try corrupt
      catch { case scala.util.control.NonFatal(e) => ctx.ops.fail(name, e.toString) }
      val rejected = ctx.ops.errors.size > before
      println(s"[perfbench] negative $name: " +
        (if (rejected) s"rejected (${ctx.ops.errors.last})" else "NOT REJECTED"))
      rejected
    }

    val results = Seq(
      rejects("store_query: one raw array truncated to 14999 samples") {
        val (meters, ticks) = (scale.storeMeters, 60)
        val dir = ctx.freshDir("neg-batch")
        graft.Main.main(Array(meters.toString, ticks.toString, dir.getPath))
        val fleet = Expect.fleet(meters)
        val spark = ctx.spark
        val raw = MeterStore(dir.getPath).raw(spark)
        val bad = new File(dir, "raw_corrupt")
        raw.withColumn("watts", when(col("said") === fleet.head &&
            col("datetime").cast("long") === Common.MainEpoch, slice(col("watts"), 1, 14999))
          .otherwise(col("watts")))
          .write.partitionBy("dt", "said_bucket").parquet(bad.getPath)
        ctx.ops.check("raw table")(
          Expect.rawTable(spark.read.parquet(bad.getPath), fleet, Common.MainEpoch, ticks))
        Disk.delete(dir)
      },
      rejects("stream_ingest: one micro-batch fed twice") {
        new StreamIngest(ctx, a.seed, scale).runRound(scale.streamBatches, repeat = Some(0L))
      },
      rejects("store_query: a raw partition lost under a rawRange window") {
        val q = new StoreQuery(ctx, a.seed, scale)
        val dir = ctx.freshDir("neg-store")
        q.writeStore(ctx.spark, q.cfg, dir)
        val r = q.ranges.head
        val day = q.ts(r.from).take(10)
        val part = new File(dir, s"meter_samples/dt=$day/said_bucket=${r.saids.head % 16}")
        Disk.dataFiles(part).foreach(_.delete())
        q.extract(r, MeterStore(dir.getPath))
        Disk.delete(dir)
      },
      rejects("store_query: one extra row in the day rollup") {
        val q = new StoreQuery(ctx, a.seed, scale)
        val dir = ctx.freshDir("neg-day")
        val spark = ctx.spark
        q.writeStore(spark, q.cfg, dir)
        val day = MeterStore(dir.getPath).table(spark, "day")
        day.limit(1).withColumn("joules", lit(1L))
          .write.mode("append").parquet(new File(dir, "meter_samples_day").getPath)
        q.prepare(MeterStore(dir.getPath))
        val df = q.routedMonth()
        ctx.ops.check("routed month report")(q.checkRouted(df, df.collect()))
        graft.plans.RollupRouting.uninstall(spark)
        Disk.delete(dir)
      })
    // Not a check: the fault that keeps the raw table off the CQL wire
    // path, reported so its repair shows up here.
    val cql = scala.util.Try(new graft.sources.CassandraSinkShape("disagg").bindRows(
      graft.meter.MeterGen.transmissions(ctx.spark, graft.meter.GenConfig(ticks = 1)),
      "meter_samples", Seq("said"), Seq("datetime")).schema)
    println("[perfbench] known fault: raw transmissions through CassandraSinkShape.bindRows: " +
      cql.fold(e => s"throws ${e.getClass.getSimpleName}: ${e.getMessage}", _ => "binds"))
    ctx.stopSession()
    results.forall(identity)
  }
}
