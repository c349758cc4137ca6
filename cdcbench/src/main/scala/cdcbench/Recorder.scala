package cdcbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each engine layer. Spans stay
  * in memory and are written out with the raw record at the end; when
  * tracing is off, [[span]] only runs its body. */
final class Spans(enabled: Boolean) {
  private val out = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** Nanoseconds spent recording spans (part of the tracing overhead). */
  val selfNs = new java.util.concurrent.atomic.AtomicLong(0)

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val r0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      selfNs.addAndGet(t0 - r0)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        out.add(Map("id" -> id, "parent" -> parent, "layer" -> layer,
          "name" -> name, "start_ms" -> startMs,
          "dur_ms" -> (t1 - t0) / 1e6))
        selfNs.addAndGet(System.nanoTime() - t1)
      }
    }

  def all: Seq[Map[String, Any]] = out.asScala.toSeq
}

/** Attributes Spark jobs and stages to the engine file that started their
  * SQL execution (the execution's call site, e.g. `parquet at
  * Icelite.scala:1330`; adaptive execution submits jobs from a pool thread,
  * so the job's own call site names no engine file — and inside a
  * streaming query every job carries the query's start site) and to the
  * streaming micro-batch id carried in the job properties, and records
  * each stage's task metrics. Registered only on traced runs. */
final class SparkTrace extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execFile = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Long)]()
  /** Nanoseconds spent inside the callbacks (part of the tracing overhead). */
  val selfNs = new java.util.concurrent.atomic.AtomicLong(0)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => timed {
      execFile.put(x.executionId, SparkTrace.fileOf(x.details, x.description))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val batch = prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
    val file = prop("spark.sql.execution.id").flatMap(id => Option(execFile.get(id.toLong)))
      .getOrElse("other")
    e.stageIds.foreach(stageJob.put(_, (e.jobId, file)))
    jobStart.put(e.jobId, (e.time, file, batch))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobStart.remove(e.jobId)).foreach { case (start, file, batch) =>
      jobs.add(Map("id" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time,
        "file" -> file, "batch_id" -> batch))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = e.stageInfo
    val m = s.taskMetrics
    val (job, file) = Option(stageJob.remove(s.stageId)).getOrElse((-1, "other"))
    if (m != null) stages.add(Map(
      "id" -> s.stageId, "job" -> job, "file" -> file,
      "submit_ms" -> s.submissionTime.getOrElse(0L),
      "done_ms" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks,
      "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
      "input_records" -> m.inputMetrics.recordsRead,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_bytes" -> (m.diskBytesSpilled + m.memoryBytesSpilled)))
  }

  def allJobs: Seq[Map[String, Any]] = jobs.asScala.toSeq
  def allStages: Seq[Map[String, Any]] = stages.asScala.toSeq
}

object SparkTrace {
  private val Frame = """\s*(?:at )?([\w.$]+)\.[\w$]+\((\w+\.scala):\d+\)""".r
  private val Short = """.* at (\w+\.scala):\d+""".r

  /** The file of the innermost engine (`graft.`) frame of a call site's
    * long form; else the short form's file, `bench` for the benchmark's
    * own files; else `other`. */
  def fileOf(details: String, description: String): String =
    Option(details).getOrElse("").split("\n").iterator.collect {
      case Frame(cls, file) if cls.startsWith("graft.") => file
    }.nextOption().getOrElse(Option(description).getOrElse("") match {
      case Short(f) if f == "Workloads.scala" || f == "Main.scala" => "bench"
      case Short(f) => f
      case _ => "other"
    })
}

/** Host contention over a window, from `/proc/stat` and this process's own
  * CPU time: the steal share, the cores other processes kept busy, and a
  * CPU-speed probe at the window's start and end. */
final class HostWindow {
  private def cpuTotals(): (Long, Long, Long) = { // (total, idle+iowait, steal)
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (v.take(8).sum, v(3) + v(4), if (v.length > 7) v(7) else 0L)
    } finally f.close()
  }
  private def selfTicks(): Long = {
    val f = scala.io.Source.fromFile("/proc/self/stat")
    try {
      val s = f.mkString
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong // utime + stime
    } finally f.close()
  }
  /** Best of three runs of a fixed single-thread loop, in ms. The host's
    * speed drifts by a fifth or more over minutes without any steal
    * showing; this labels such a window. */
  private def cpuProbeMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 20000000) { h = h * 31 + i; i += 1 }
    if (h == 42L) System.err.print("") // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  }.min

  private val probe0 = cpuProbeMs()
  private val (t0, idle0, steal0) = cpuTotals()
  private val self0 = selfTicks()
  private val wall0 = System.nanoTime()

  def close(): Map[String, Double] = {
    val (t1, idle1, steal1) = cpuTotals()
    val self1 = selfTicks()
    val probe1 = cpuProbeMs()
    val total = math.max(1L, t1 - t0).toDouble
    val busy = (t1 - t0) - (idle1 - idle0) - (steal1 - steal0)
    val cores = Runtime.getRuntime.availableProcessors().toDouble
    Map(
      "steal_share" -> (steal1 - steal0) / total,
      "busy_share" -> busy / total,
      // ticks other processes used, in cores (all-core ticks / total × cores)
      "other_cores" -> math.max(0L, busy - (self1 - self0)) / total * cores,
      "cpu_probe_ms" -> (probe0 + probe1) / 2,
      "wall_s" -> (System.nanoTime() - wall0) / 1e9)
  }
}

/** Live-heap high-water mark: the most heap in use right after any
  * collection, from the collectors' notifications. Unlike the resident
  * set, it moves with what the engine keeps alive, not with how far the
  * collector chose to grow the heap. */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val maxAfterGc = new java.util.concurrent.atomic.AtomicLong(0)
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        maxAfterGc.accumulateAndGet(used, math.max)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Stops listening; returns the high-water mark in MB. */
  def close(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    maxAfterGc.get() / (1024.0 * 1024.0)
  }
}

object Proc {
  /** Heap in use after a full collection, in MB: what the run keeps
    * alive. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** VmHWM (peak resident set) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
    finally f.close()
  }
}
