package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Operation accounting: every operation the benchmark attempts, and every
  * one that threw or produced a wrong output. A failed operation is counted
  * once, however many of its checks fail.
  */
final class Ledger {
  private var nAttempted = 0L
  private val failedOps = mutable.LinkedHashMap.empty[Long, String]

  def attempted: Long = nAttempted
  def failed: Long = failedOps.size.toLong
  def failures: Seq[String] = failedOps.values.toSeq

  /** Runs one operation; a throw marks it failed and yields None. */
  def attempt[A](what: String)(op: => A): (Long, Option[A]) = {
    nAttempted += 1
    val id = nAttempted
    try (id, Some(op))
    catch { case NonFatal(e) => fail(id, s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); (id, None) }
  }

  /** Marks operation `id` failed when `problems` is non-empty, or when
    * computing them throws.
    */
  def verify(id: Long, what: String)(problems: => Seq[String]): Unit =
    try { val p = problems; if (p.nonEmpty) fail(id, s"$what: ${p.take(5).mkString("; ")}") }
    catch { case NonFatal(e) => fail(id, s"$what check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def fail(id: Long, msg: String): Unit =
    if (!failedOps.contains(id)) { failedOps(id) = msg; System.err.println(s"[perfbench] FAILED $msg") }
}

object Ledger {
  /** `name: expected != actual` for every differing entry of two tallies. */
  def diff[K, V](name: String, expected: Map[K, V], actual: Map[K, V]): Seq[String] =
    (expected.keySet ++ actual.keySet).toSeq.map(_.toString).sorted.flatMap { ks =>
      val k = (expected.keySet ++ actual.keySet).find(_.toString == ks).get
      val (e, a) = (expected.get(k), actual.get(k))
      if (e == a) None else Some(s"$name[$ks] expected ${e.getOrElse("-")} got ${a.getOrElse("-")}")
    }

  def same[V](name: String, expected: V, actual: V): Seq[String] =
    if (expected == actual) Nil else Seq(s"$name expected $expected got $actual")
}

/** In-memory span recorder for the traced run: name, start, end, parent and
  * run id per span, written out as JSON lines when the run ends. Disabled,
  * it only runs the body.
  */
final class Trace(val runId: String, val enabled: Boolean) {
  import Trace.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private val born = System.nanoTime()

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val span = Span(id, parent, name, t0, System.nanoTime())
        done += span
        open = open.tail
        System.err.println(f"[perfbench] span +${(span.endNs - born) / 1e9}%.1f ${"  " * open.size}$name ${span.seconds}%.3f s")
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** A span's duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  def write(file: java.io.File): Unit = if (enabled) {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}""")
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

object EngineCounters {
  final case class Snap(jobs: Long, tasks: Long, shuffleWrite: Long, spill: Long,
      cpuNs: Long, recordsRead: Long, scanTasks: Long, gcMs: Long, wallNs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, shuffleWrite - o.shuffleWrite,
      spill - o.spill, cpuNs - o.cpuNs, recordsRead - o.recordsRead, scanTasks - o.scanTasks,
      gcMs - o.gcMs, wallNs - o.wallNs)
    def +(o: Snap): Snap = Snap(jobs + o.jobs, tasks + o.tasks, shuffleWrite + o.shuffleWrite,
      spill + o.spill, cpuNs + o.cpuNs, recordsRead + o.recordsRead, scanTasks + o.scanTasks,
      gcMs + o.gcMs, wallNs + o.wallNs)
  }
}

/** Engine counters from a SparkListener registered by the benchmark, read
  * as differences between two snapshots.
  */
final class EngineCounters(scanPartitions: Int) extends SparkListener {
  import EngineCounters.Snap
  private var jobs, tasks, shuffleWrite, spill, cpuNs, recordsRead, scanTasks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Workbook scans run one task per workbook over the listed files. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (info.rddInfos.exists(r => r.name == "ParallelCollectionRDD" && r.numPartitions == scanPartitions))
      scanTasks += info.numTasks
  }

  def snap(spark: SparkSession): Snap = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      Snap(jobs, tasks, shuffleWrite, spill, cpuNs, recordsRead, scanTasks, Host.gcMillis, System.nanoTime())
    }
  }
}

/** JVM and host readings. */
object Host {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old") || p.getName.contains("Tenured"))

  /** Old-generation bytes live after a full collection. The first
    * collection lets Spark's ContextCleaner release what became unreachable;
    * the second, after it had a moment to run, measures what is left.
    */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.map(_.getUsage.getUsed).getOrElse(0L) / 1048576.0
  }

  private lazy val calibrationData = {
    val r = new java.util.Random(7)
    Array.fill(1 << 20)(r.nextLong())
  }

  /** Milliseconds a fixed single-threaded sort takes: a reading of how fast
    * the host runs the benchmark at that moment, independent of the program.
    */
  def calibrationMs(): Double = {
    val a = calibrationData.clone()
    val t = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t) / 1e6
  }

  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    catch { case NonFatal(_) => "" }

  /** 1-minute load average, or -1 where /proc is missing. */
  def load1: Double = read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** Cumulative steal jiffies of all CPUs (8th field of the `cpu` line). */
  def stealJiffies: Long = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
    .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
}
