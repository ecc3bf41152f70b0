package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine layer, kept in
  * memory and written out when the run ends. One client thread issues
  * every call, so a stack tracks the parent span. An inactive tracer only
  * runs the body: untimed, unrecorded. */
final class Tracer(val active: Boolean) {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Long]
  private var nextId = 1L
  private var opId = 0L

  /** Counts recorded at the same boundaries as the spans. */
  val counts: mutable.Map[String, Double] =
    mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  def count(name: String, v: Double): Unit = if (active) counts(name) += v

  /** A top-level operation: a new operation id shared by its spans. */
  def op[A](name: String)(body: => A): A = {
    if (active) opId += 1
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, opId, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Total seconds spent in spans of this name. */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def spanCount(name: String): Int = spans.count(_.name == name)

  def secondsMatching(p: String => Boolean): Double =
    spans.iterator.filter(s => p(s.name)).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Self time per span name: duration minus the part its children cover
    * (children of one span never overlap: one client thread). */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map[Long, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  def writeJsonl(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_us" -> (s.startNs - t0) / 1000,
        "end_us" -> (s.endNs - t0) / 1000)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark execution counts from listeners registered by the benchmark
  * (never by the engine): SQL executions, jobs, stages, tasks, task
  * metrics, planning time and the job intervals that give the time spent
  * outside any job. Counters are cumulative while attached; callers read deltas
  * between [[snapshot]]s, each taken after the bus has drained. */
final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("spark.jobs", 1)
    jobStart.put(e.jobId, e.time)
    if (e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint")))
      add("spark.checkpoint_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => intervals.add((s.longValue, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("spark.task_run_s", m.executorRunTime / 1000.0)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => add("spark.sql_executions", 1)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    add("spark.plan_ms", Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs.toDouble).sum)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Drained counter values, plus wall-clock ms for interval clipping. */
  def snapshot(): (Map[String, Double], Long) = {
    drain()
    (c.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
      System.currentTimeMillis())
  }

  /** Milliseconds inside [t0, t1] covered by at least one job. */
  def busyMs(t0: Long, t1: Long): Long = {
    val iv = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var cur = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > cur) { busy += b - a; cur = b }
      else if (b > cur) { busy += b - cur; cur = b }
    }
    busy
  }
}

object SparkProbe {
  val Counters: Seq[String] = Seq("spark.sql_executions", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.plan_ms", "spark.checkpoint_jobs",
    "spark.task_run_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.input_bytes")
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by every thread of this JVM so far. Unlike wall
    * time it excludes time the host gave to other tenants. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used so far, from
    * /proc/self/task (0 where that is not readable). The compiler threads
    * live as long as the JVM (run.py turns off their dynamic start and
    * stop), so differences of this sum are exact to the clock tick. The
    * JVM's own compilation time would not do: it is elapsed time, which
    * grows when the host takes the core away. */
  def jitCpuSeconds: Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")), "UTF-8")
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), "UTF-8")
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong // utime and stime, fields 14 and 15
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / UserHz
  }

  private val UserHz = 100.0 // clock ticks per second in /proc, on Linux

  /** Runs a batch and records the CPU time it cost the JVM, less the JIT
    * compiler threads': the JIT compiles 1-4 s of CPU per batch for many
    * batches after the warm-up, an amount that varies between runs and
    * would hide the program's own CPU time. */
  def withCpu(body: => Batch): Batch = {
    val c0 = cpuSeconds
    val j0 = jitCpuSeconds
    val b = body
    b.copy(cpuS = (cpuSeconds - c0) - (jitCpuSeconds - j0))
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
