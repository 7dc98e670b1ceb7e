package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** One timed operation: its wall time, the CPU time of the JVM's Java
  * threads over it ([[Jvm.threadCpuNs]]) and, in traced runs, what Spark
  * did. */
final case class Sample(ms: Double, cpuMs: Double, window: Option[Window])

/** Operations attempted and failed. An operation fails when it throws or
  * when its output does not match [[Expect]]; either makes the run
  * incorrect. Warm-up operations are checked but not counted. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  var counting = false
  val errors = ArrayBuffer.empty[String]

  def fail(what: String, why: String): Unit = {
    if (counting) failed += 1
    if (errors.size < 20) errors += s"$what: $why"
    System.err.println(s"[perfbench] FAILED $what: $why")
  }

  /** An untimed correctness check that belongs to the last operation. */
  def check(what: String)(result: => Option[String]): Boolean =
    (try result catch { case NonFatal(e) => Some(e.toString) }) match {
      case None => true
      case Some(why) => fail(what, why); false
    }
}

/** Shared state of one run: the Spark session, the run's scratch
  * directory and, when tracing, the listeners. */
final class Ctx(val out: File, val trace: Boolean) {
  /** Task slots: run.py sets them (`SPARK_GRAFT_CPUS`, which `graft.Main`
    * reads too). */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(2, Runtime.getRuntime.availableProcessors))
  val tape = new Tape
  val scans = new Scans
  val ops = new Ops
  private var live: SparkSession = _
  private var dirs = 0

  /** The live session, started if there is none (the program's `Main`
    * stops the session it ran on). Configured as `graft.Main` configures
    * its own, so `Main` run against it behaves as it does alone. */
  def spark: SparkSession = {
    if (live == null || live.sparkContext.isStopped) {
      live = SparkSession.builder()
        .master(s"local[$cores]")
        .withExtensions(new graft.plans.GraftExtensions)
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      live.sparkContext.setLogLevel("WARN")
      if (trace) {
        live.sparkContext.addSparkListener(tape)
        live.listenerManager.register(scans)
      }
    }
    live
  }

  /** Stop the session, so the next use of [[spark]] starts a new one. */
  def stopSession(): Unit = if (live != null) { live.stop(); live = null }

  def freshDir(name: String): File = {
    dirs += 1
    val d = new File(out, s"$name-$dirs")
    d.mkdirs()
    d
  }

  /** `s` if it belongs to the measured rounds; warm-up samples are dropped. */
  def keep(s: Option[Sample]): Option[Sample] = if (ops.counting) s else None

  /** Run and time `body` as one operation, then check its result. */
  def timed[T](what: String)(body: => T)(check: T => Option[String]): Option[Sample] = {
    if (ops.counting) ops.attempted += 1
    val mark = if (trace) Some(tape.mark()) else None
    val cpu0 = Jvm.threadCpuNs()
    val t0 = System.nanoTime
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime - t0) / 1e6
    val cpuMs = Jvm.threadCpuNsSince(cpu0) / 1e6
    val endMs = System.currentTimeMillis
    result match {
      case Left(e) => ops.fail(what, e.toString); None
      case Right(r) =>
        val window = mark.map { m =>
          if (live != null) Bus.drain(live.sparkContext)
          tape.since(m, endMs)
        }
        (try check(r) catch { case NonFatal(e) => Some(e.toString) }) match {
          case Some(why) => ops.fail(what, why); None
          case None => Some(Sample(ms, cpuMs, window))
        }
    }
  }
}

/** A workload: warm-up, set-up, then whole rounds of operations until the
  * run's time is spent. */
trait Workload {
  def warmUp(): Unit
  def setUp(): Unit
  /** Untimed work between the last set-up and the first round. */
  def ready(): Unit = ()
  /** Untimed rounds between [[ready]] and the measured rounds: the JIT is
    * still compiling the round's code after the warm-up and set-ups. */
  def warmRounds: Int
  def round(): Unit
  /** A round's length on an idle 4-core machine. A run does
    * ⌈seconds / roundSeconds⌉ rounds: a fixed amount of work, so a slow
    * spell lengthens the run instead of changing which operations it
    * measures (later operations in a JVM run faster than earlier ones). */
  def roundSeconds: Double
  /** Set-ups per run; setup_s is their median. */
  def setUps: Int
  /** End-to-end metrics, by name: (value, unit). */
  def endToEnd(setupS: Double): Seq[(String, Double, String)]
  /** Samples of the operations whose Spark activity the session metrics
    * describe. */
  def samples: Seq[Sample]
  /** Named metrics as the workload's own terms define them, wall-clock
    * rates and latencies among them. */
  def named(setupS: Double): Seq[(String, Double, String)]
}

object Run {
  val Workloads = Seq("stream_ingest", "store_query")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: File, mode: String)

  def parse(a: Array[String]): Args = {
    def opt(k: String) = a.indexOf(k) match {
      case -1 => None
      case i => a.lift(i + 1)
    }
    Args(opt("--workload").getOrElse("store_query"),
      opt("--seed").map(_.toLong).getOrElse(1L),
      opt("--seconds").map(_.toInt).getOrElse(10),
      opt("--trace").contains("1"),
      new File(opt("--out").getOrElse(sys.error("--out <dir> is required"))),
      opt("--mode").getOrElse("run"))
  }

  def make(name: String, ctx: Ctx, seed: Long, scale: Scale): Workload = name match {
    case "stream_ingest" => new StreamIngest(ctx, seed, scale)
    case "store_query" => new StoreQuery(ctx, seed, scale)
    case other => sys.error(s"unknown workload $other (${Workloads.mkString(", ")})")
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case m: Seq[_] => m.map {
      case (k: String, x) => json(k) + ": " + json(x)
      case x => json(x)
    }.mkString(if (m.headOption.exists(_.isInstanceOf[(_, _)])) "{" else "[", ", ",
      if (m.headOption.exists(_.isInstanceOf[(_, _)])) "}" else "]")
    case other => json(other.toString)
  }

  def metricObj(ms: Seq[(String, Double, String)]): Seq[(String, Any)] =
    ms.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) }

  /** One measured run of one workload. Returns the result object. */
  def measure(a: Args, scale: Scale): (Seq[(String, Any)], Boolean) = {
    val ctx = new Ctx(a.out, a.trace)
    val w = make(a.workload, ctx, a.seed, scale)
    def secondsOf(body: => Unit): Double = {
      val t0 = System.nanoTime
      body
      (System.nanoTime - t0) / 1e9
    }
    val warmS = secondsOf(if (scale.thorough) w.warmUp())
    val setups = (1 to (if (scale.thorough) w.setUps else 1)).map(_ => secondsOf(w.setUp()))
    w.ready()
    val warmRoundsS = secondsOf(if (scale.thorough) (1 to w.warmRounds).foreach(_ => w.round()))
    val (steal0, total0) = Jvm.cpuJiffies()
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    Jvm.resetHeapPeak()
    ctx.ops.counting = true
    val start = System.nanoTime
    val rounds = math.max(1, math.ceil(a.seconds / w.roundSeconds).toInt)
    // JIT compilation time per round: how far from settled the JVM is.
    val cg0 = Bus.codegenCompiles
    val jitRounds = (1 to rounds).map { _ =>
      val j0 = Jvm.jitMs
      w.round()
      (Jvm.jitMs - j0).toDouble
    }
    val codegenPerRound = (Bus.codegenCompiles - cg0).toDouble / rounds
    val wallS = (System.nanoTime - start) / 1e9
    ctx.ops.counting = false
    val session = Seq(
      ("jvm.gc_ms", (Jvm.gcMs - gc0).toDouble, "ms"),
      ("jvm.jit_ms", (Jvm.jitMs - jit0).toDouble, "ms"),
      ("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"))
    val (steal1, total1) = Jvm.cpuJiffies()
    val steal = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    val setupS = Stats.median(setups)
    val e2e = w.endToEnd(setupS)
    var probesS = 0.0
    val metrics =
      if (!a.trace) e2e
      else {
        val ws = w.samples.flatMap(_.window)
        def per(f: Window => Double) = if (ws.isEmpty) 0.0 else Stats.median(ws.map(f))
        var layers: Seq[(String, Double, String)] = Nil
        probesS = secondsOf { layers = Probes.run(ctx, a.seed, scale) }
        layers ++ Seq(
          ("spark.jobs", per(_.jobs.toDouble), "count"),
          ("spark.shuffle_write_bytes", per(_.shuffleWriteBytes.toDouble), "bytes"),
          ("spark.gap_ms", per(_.gapMs.toDouble), "ms")) ++ session
      }
    val correct = ctx.ops.errors.isEmpty
    // Weather and the workload's own terms, on a line of their own: the
    // result line carries only the gated metrics.
    println("[perfbench] detail " + json(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "rounds" -> rounds, "warm_up_s" -> warmS,
      "warm_rounds_s" -> warmRoundsS, "measured_s" -> wallS,
      "probes_s" -> probesS, "cpu_steal_share" -> steal,
      "setup_s_each" -> setups, "jit_ms_each_round" -> jitRounds,
      "codegen_compiles_per_round" -> codegenPerRound, "op_ms" -> w.samples.map(_.ms),
      "end_to_end" -> metricObj(e2e),
      "named" -> metricObj(w.named(setupS)), "session" -> metricObj(session),
      "errors" -> ctx.ops.errors.toSeq)))
    ctx.stopSession()
    (Seq("correct" -> correct, "attempted" -> ctx.ops.attempted,
      "failed" -> ctx.ops.failed, "metrics" -> metricObj(metrics)), correct)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.out.mkdirs()
    val ok = a.mode match {
      case "run" =>
        val (result, correct) = measure(a, Scale.Full)
        val w = new PrintWriter(new File(a.out, "result.json"))
        try w.println(json(result)) finally w.close()
        correct
      case "smoke" =>
        Workloads.forall { name =>
          val (result, correct) = measure(a.copy(workload = name, seconds = 1), Scale.Smoke)
          println(s"[perfbench] smoke $name " + json(result))
          correct
        }
      case "negative" => Negative.run(a, Scale.Smoke)
      case other => sys.error(s"unknown mode $other")
    }
    sys.exit(if (ok) 0 else 1)
  }
}
