package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def secs(ns: Long): Double = ns / 1e9
  def millis(ns: Long): Double = ns / 1e6

  def time[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val v = body
    (v, System.nanoTime() - t0)
  }
}

/** Spans recorded in the benchmark's own code around each call into a
  * graft layer: name, start, end and the enclosing span. They stay in
  * memory and are written out once, when the run ends. With tracing off
  * `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0 - origin, System.nanoTime() - origin)
        open = open.tail
      }
    }

  /** Durations in ms of every span with this name, in the order they ended. */
  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val body = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Counters of the Spark driver and executors, read from public listener
  * events: jobs, stages, tasks, task run time, shuffle bytes written,
  * bytes spilled and, per task, its run interval (for the time in which
  * no task ran).
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  import SparkCounters.Snap
  def snap(): Snap =
    Snap(jobs.get, stages.get, tasks.get, taskRunMs.get, shuffleWriteBytes.get, spillBytes.get)

  /** Milliseconds of `[fromMs, toMs)` (epoch) in which no task was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val spans = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => a < b }
      .sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- spans) {
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    (toMs - fromMs) - busy
  }
}

object SparkCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long, shuffleWrite: Long, spill: Long)
}

/** Per-query facts from the public `QueryExecutionListener`: Catalyst
  * analysis + optimization + planning time, observed metrics (graft's
  * parse counter) and the duration of every write to a path.
  */
final class QueryClock extends QueryExecutionListener {
  val planMs = new AtomicLong
  val observed = new ConcurrentLinkedQueue[(String, org.apache.spark.sql.Row)]()
  /** (output path, duration ms) of every successful write command. */
  val writes = new ConcurrentLinkedQueue[(String, Double)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    qe.observedMetrics.foreach { case (k, v) => observed.add(k -> v) }
    qe.logical.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
    }.foreach(p => writes.add(p -> durationNs / 1e6))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Every progress report of every streaming query, by query name. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def of(name: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.filter(_.name == name).toSeq
}

object Jvm {
  def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU ns of the JIT compiler threads (run time from
    * /proc/self/task/<tid>/schedstat). run.py starts the JVM with
    * -XX:-UseDynamicNumberOfCompilerThreads, so these threads live as long
    * as the JVM and none takes its CPU time with it when it ends.
    */
  def jitCpuNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    require(tasks != null, "no /proc/self/task: the JIT's CPU time cannot be read")
    val ns = tasks.toSeq.flatMap { t =>
      def read(f: String) = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve(f)), "UTF-8").trim
      try if (read("comm").contains("CompilerThre")) Some(read("schedstat").split(' ')(0).toLong) else None
      catch { case _: java.io.IOException => None } // the thread ended meanwhile
    }
    require(ns.nonEmpty, "no JIT compiler thread found in /proc/self/task")
    ns.sum
  }

  /** Process CPU less the JIT compiler's: the CPU the work itself costs.
    * The compiler still compiles Spark's and graft's code rounds after the
    * cold one, and how much of it falls in a given round depends on the
    * load on the machine; its total is `jvm.jit_s`.
    */
  def workCpuNs(): Long = cpuNs() - jitCpuNs()

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Live heap after full collections, in MB: collects until the used
    * heap stops falling (at most five times).
    */
  def liveHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var next = used()
    var n = 2
    while (next < last && n < 5) { last = next; next = used(); n += 1 }
    math.min(last, next) / (1024.0 * 1024.0)
  }
}
