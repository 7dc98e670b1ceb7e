package perfbench

import java.math.BigInteger
import java.security.MessageDigest
import java.time.{Instant, YearMonth, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** What every output must be, computed here from the data model alone.
  * Nothing is read back from a saved copy of program output, and nothing
  * calls the program's own constants (`MeterGen.joulesConst`,
  * `SaidSeed.saidSeed`): a check that shares the code it checks proves
  * nothing about that code. */
object Expect {
  val SampleRate = 15000
  val Period = 120
  val SaidBuckets = 16

  /** One transmission: watts[i] = i mod 120, as floats. */
  val sawtooth: Array[Float] = Array.tabulate(SampleRate)(i => (i % Period).toFloat)

  /** Sum of one transmission's samples: 892,500. */
  val rowSum: Long = (0 until SampleRate).map(i => (i % Period).toLong).sum

  /** Joules per transmission: ⌊rowSum / sampleRate⌋ = 59. */
  val joulesPerTx: Long = rowSum / SampleRate

  /** First meter id: SHA-1 of the host name as a signed big integer,
    * mod 100000 — the reference's said seeding. */
  def startSaid(host: String): Int =
    new BigInteger(MessageDigest.getInstance("SHA-1").digest(host.getBytes("UTF-8")))
      .mod(BigInteger.valueOf(100000L)).intValue

  val ReportGrains: Seq[String] = Seq("minute", "hour", "day", "month")

  /** Number of `grain` buckets the seconds [t0, t0 + n) touch (UTC). */
  def buckets(grain: String, t0: Long, n: Long): Long = {
    def fixed(w: Long) = Math.floorDiv(t0 + n - 1, w) - Math.floorDiv(t0, w) + 1
    grain match {
      case "second" => n
      case "minute" => fixed(60)
      case "hour" => fixed(3600)
      case "day" => fixed(86400)
      case "month" =>
        def ym(s: Long) = YearMonth.from(Instant.ofEpochSecond(s).atOffset(ZoneOffset.UTC))
        val (a, b) = (ym(t0), ym(t0 + n - 1))
        (b.getYear - a.getYear) * 12L + (b.getMonthValue - a.getMonthValue) + 1
    }
  }

  /** A report or table collected as (said, joules) rows: `meters` meters
    * over `ticks` seconds from `t0` must give exactly one row per meter and
    * bucket, and every meter must total ticks × 59 J. */
  def report(rows: Array[Row], grain: String, meters: Seq[Int], t0: Long,
      ticks: Long): Option[String] = {
    val want = meters.size * buckets(grain, t0, ticks)
    val perMeter = rows.groupMapReduce(r => r.getAs[Number]("said").intValue)(
      r => r.getAs[Number]("joules").longValue)(_ + _)
    if (rows.length != want) Some(s"$grain report has ${rows.length} rows, expected $want")
    else if (perMeter.keySet != meters.toSet) Some(s"$grain report covers meters " +
      s"${perMeter.keySet.toSeq.sorted.take(5).mkString(",")}…, expected " +
      s"${meters.take(5).mkString(",")}…")
    else perMeter.collectFirst { case (s, j) if j != ticks * joulesPerTx =>
      s"$grain report: meter $s totals $j J, expected ${ticks * joulesPerTx}"
    }
  }

  /** The raw table: one row per meter and second, each the full sawtooth,
    * stored under its dt / said_bucket partition. */
  def rawTable(raw: DataFrame, meters: Seq[Int], t0: Long, ticks: Long): Option[String] = {
    val want = typedLit(sawtooth)
    val r = raw.agg(
      count(lit(1)),
      count_distinct(col("said"), col("datetime")),
      min(col("said")), max(col("said")),
      min(col("datetime").cast("long")), max(col("datetime").cast("long")),
      sum(when(size(col("watts")) =!= SampleRate || col("watts") =!= want, 1)
        .otherwise(0)),
      sum(when(col("said_bucket") =!= pmod(col("said"), lit(SaidBuckets)) ||
        col("dt") =!= to_date(col("datetime")), 1).otherwise(0))).head()
    val rows = meters.size * ticks
    if (r.getLong(0) != rows) Some(s"raw table has ${r.getLong(0)} rows, expected $rows")
    else if (r.getLong(1) != rows) Some(s"raw table has ${rows - r.getLong(1)} duplicate keys")
    else if (r.getInt(2) != meters.min || r.getInt(3) != meters.max)
      Some(s"raw saids span ${r.getInt(2)}..${r.getInt(3)}, expected ${meters.min}..${meters.max}")
    else if (r.getLong(4) != t0 || r.getLong(5) != t0 + ticks - 1)
      Some(s"raw seconds span ${r.getLong(4)}..${r.getLong(5)}, expected $t0..${t0 + ticks - 1}")
    else if (r.getLong(6) != 0) Some(s"${r.getLong(6)} raw rows are not the 15000-sample sawtooth")
    else if (r.getLong(7) != 0) Some(s"${r.getLong(7)} raw rows sit in the wrong dt/said_bucket partition")
    else None
  }

  /** The per-second table: one row per meter and second, each 59 J. */
  def secondTable(sec: DataFrame, meters: Seq[Int], t0: Long, ticks: Long): Option[String] = {
    val r = sec.agg(count(lit(1)), count_distinct(col("said"), col("datetime")),
      min(col("joules")), max(col("joules")),
      min(col("datetime").cast("long")), max(col("datetime").cast("long"))).head()
    val rows = meters.size * ticks
    if (r.getLong(0) != rows) Some(s"second table has ${r.getLong(0)} rows, expected $rows")
    else if (r.getLong(1) != rows) Some(s"second table has ${rows - r.getLong(1)} duplicate keys")
    else if (r.getInt(2) != joulesPerTx || r.getInt(3) != joulesPerTx)
      Some(s"per-second joules span ${r.getInt(2)}..${r.getInt(3)}, expected $joulesPerTx")
    else if (r.getLong(4) != t0 || r.getLong(5) != t0 + ticks - 1)
      Some(s"second table spans ${r.getLong(4)}..${r.getLong(5)}, expected $t0..${t0 + ticks - 1}")
    else sec.groupBy("said").agg(sum("joules").as("j")).collect()
      .collectFirst { case r if r.getAs[Number]("j").longValue != ticks * joulesPerTx =>
        s"second table: meter ${r.get(0)} totals ${r.get(1)} J, expected ${ticks * joulesPerTx}"
      }
  }

  /** Rows and samples observed on a raw-range extraction. */
  def rawRange(rows: Long, samples: Long, meters: Int, seconds: Long): Option[String] =
    if (rows != meters * seconds) Some(s"rawRange returned $rows rows, expected ${meters * seconds}")
    else if (samples != rows * SampleRate) Some(s"rawRange returned $samples samples, expected ${rows * SampleRate}")
    else None

  /** Meter ids of a fleet of `n` meters seeded from this host. */
  def fleet(n: Int): Seq[Int] = {
    val s = startSaid(java.net.InetAddress.getLocalHost.getHostName)
    s until s + n
  }
}
