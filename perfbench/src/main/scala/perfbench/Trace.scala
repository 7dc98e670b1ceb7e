package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one timed operation. `coveredMs` is the part of
  * the operation's wall time during which at least one job ran. */
final case class Window(wallMs: Long, jobs: Int, coveredMs: Long,
    shuffleWriteBytes: Long, bytesRead: Long) {
  def gapMs: Long = wallMs - coveredMs
}

/** Job spans and task I/O, recorded only in traced runs: the end-to-end
  * runs register no listener, so the difference between the two kinds of
  * run is the cost of this recording. */
final class Tape extends SparkListener {
  import Tape.Mark

  private val started = new ConcurrentHashMap[Int, java.lang.Long]()
  private val spans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val shuffleWrite = new AtomicLong
  private val bytesRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(s => spans.add((s.longValue, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
    }

  def mark(): Mark = Mark(System.currentTimeMillis, shuffleWrite.get, bytesRead.get)

  /** Everything since `m`, for an operation that ended at `endMs`. Call
    * after the listener bus has drained. */
  def since(m: Mark, endMs: Long): Window = {
    val inside = spans.asScala.toSeq
      .filter { case (s, _) => s >= m.ms && s <= endMs }
      .map { case (s, e) => (s, math.min(e, endMs)) }
      .sortBy(_._1)
    var covered, reach = 0L
    var open = Long.MinValue
    inside.foreach { case (s, e) =>
      if (s > reach) { if (open != Long.MinValue) covered += reach - open; open = s; reach = e }
      else reach = math.max(reach, e)
    }
    if (open != Long.MinValue) covered += reach - open
    Window(endMs - m.ms, inside.size, covered,
      shuffleWrite.get - m.shuffleWrite, bytesRead.get - m.bytesRead)
  }
}

object Tape {
  final case class Mark(ms: Long, shuffleWrite: Long, bytesRead: Long)
}

/** Files each query's file scans read, from the scans' own metrics. */
final class Scans extends QueryExecutionListener {
  @volatile var lastFilesRead: Long = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lastFilesRead = filesRead(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(filesRead).sum
  }
}

/** JVM-wide counters read around the timed part of a run. */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of every live Java thread, by thread id: the driver, Spark's
    * task and event threads. The JIT compiler and GC threads are not in
    * it, and neither is time the hypervisor steals. */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.iterator.zip(threads.getThreadCpuTime(ids).iterator).filter(_._2 >= 0).toMap
  }

  /** CPU time the Java threads spent since `before`; a thread started since
    * counts from zero. */
  def threadCpuNsSince(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }
      .filter(_ > 0).sum
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Cumulative (steal, total) jiffies of all CPUs, from /proc/stat;
    * (0, 0) where that file does not exist. */
  def cpuJiffies(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.canRead) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val cpu = src.getLines().find(_.startsWith("cpu ")).getOrElse("cpu")
          .split("\\s+").drop(1).map(_.toLong)
        (if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
      } finally src.close()
    }
  }
}

/** Parquet data files of a table directory, and their bytes. */
object Disk {
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir).filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    else Option(dir.listFiles).toSeq.flatten.flatMap(dataFiles)

  def bytes(dirs: Seq[File]): Long = dirs.flatMap(dataFiles).map(_.length).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete(); ()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
