package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Indices of the cumulative counters the listeners keep. Times are
  * nanoseconds unless the name says otherwise. */
object K {
  val ExecCpuNs = 0; val ShuffleWriteBytes = 1; val ShuffleWriteRecords = 2; val SpillBytes = 3
  val InputRecords = 4; val Jobs = 5; val Stages = 6; val Tasks = 7; val SchedDelayMs = 8
  val PlanAnalysisMs = 9; val PlanOptimizationMs = 10; val PlanPlanningMs = 11
  val N = 12
}

/** One immutable reading of every counter, plus the process-wide GC time
  * and the calling thread's CPU time at the moment it was taken. */
final case class Snap(c: Array[Long], gcMs: Long, threadCpuNs: Long, wallNs: Long) {
  def -(o: Snap): Snap =
    Snap(Array.tabulate(K.N)(i => c(i) - o.c(i)), gcMs - o.gcMs,
      threadCpuNs - o.threadCpuNs, wallNs - o.wallNs)
  def +(o: Snap): Snap =
    Snap(Array.tabulate(K.N)(i => c(i) + o.c(i)), gcMs + o.gcMs,
      threadCpuNs + o.threadCpuNs, wallNs + o.wallNs)
  def apply(i: Int): Long = c(i)
  def wallS: Double = wallNs / 1e9
  /** Executor task CPU plus the benchmark thread's own CPU. */
  def cpuS: Double = (c(K.ExecCpuNs) + threadCpuNs) / 1e9
}

object Snap {
  val zero: Snap = Snap(new Array[Long](K.N), 0L, 0L, 0L)
}

final case class Span(id: Long, name: String, parent: Long, startUs: Long, endUs: Long,
                      run: String, attrs: Map[String, Double] = Map.empty)

/** Task, stage, job and query counters for one SparkSession, and the span
  * recorder for traced runs. Every measurement goes through [[measure]]:
  * it drains the listener bus on both sides of the call, so the delta
  * holds exactly the call's own tasks and queries (one client thread, so
  * nothing else runs in between). */
final class Collector(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  private val counters = new AtomicLongArray(K.N)
  private val threads = ManagementFactory.getThreadMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  @volatile var tracing = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private val jobSpan = mutable.Map[Int, (Long, Long, Long)]() // job -> (span, parent, startMs)
  private val stageJob = mutable.Map[Int, Long]() // stage -> job span

  val SpanKey = "perfbench.span"

  private def add(i: Int, v: Long): Unit = counters.addAndGet(i, v)

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(K.Tasks, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(K.ExecCpuNs, m.executorCpuTime)
        add(K.ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
        add(K.ShuffleWriteRecords, m.shuffleWriteMetrics.recordsWritten)
        add(K.SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(K.InputRecords, m.inputMetrics.recordsRead)
        val info = e.taskInfo
        if (info != null && info.finishTime > 0) {
          val busy = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime
          add(K.SchedDelayMs, math.max(0L, info.duration - busy - info.gettingResultTime))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add(K.Stages, 1)
      if (tracing) spans.synchronized {
        val i = e.stageInfo
        val parent = stageJob.getOrElse(i.stageId, 0L)
        val s = i.submissionTime.getOrElse(0L); val f = i.completionTime.getOrElse(s)
        spans += Span(newId(), s"spark.stage.${i.stageId}", parent, s * 1000, f * 1000, runId,
          Map("tasks" -> i.numTasks.toDouble))
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add(K.Jobs, 1)
      if (tracing) spans.synchronized {
        val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toLong).getOrElse(0L)
        val id = newId()
        jobSpan(e.jobId) = (id, parent, e.time)
        e.stageIds.foreach(s => stageJob(s) = id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (tracing) spans.synchronized {
        jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
          spans += Span(id, s"spark.job.${e.jobId}", parent, start * 1000, e.time * 1000, runId)
        }
      }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      add(K.PlanAnalysisMs, ms("analysis"))
      add(K.PlanOptimizationMs, ms("optimization"))
      add(K.PlanPlanningMs, ms("planning"))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(queries)

  private def newId(): Long = spans.synchronized { val i = nextId; nextId += 1; i }

  def snap(): Snap = {
    PerfbenchBridge.drainListenerBus(sc)
    var gc = 0L
    gcBeans.forEach(b => gc += math.max(0L, b.getCollectionTime))
    Snap(Array.tabulate(K.N)(counters.get), gc, threads.getCurrentThreadCpuTime, System.nanoTime())
  }

  private def epochUs(nano: Long): Long = (epochNs0 + (nano - nano0)) / 1000

  /** Run `body` as one named call into a layer and return its result with
    * the counter delta it caused. With tracing on, the call is recorded as
    * a span whose Spark jobs point back to it through [[SpanKey]]. */
  def measure[T](name: String)(body: => T): (T, Snap) = {
    val s0 = snap()
    val id = if (tracing) newId() else 0L
    val parent = stack.headOption.getOrElse(0L)
    val prevKey = sc.getLocalProperty(SpanKey)
    if (tracing) { stack = id :: stack; sc.setLocalProperty(SpanKey, id.toString) }
    try {
      val out = body
      val d = snap() - s0
      if (tracing) spans.synchronized {
        spans += Span(id, name, parent, epochUs(s0.wallNs), epochUs(s0.wallNs + d.wallNs), runId,
          Map("cpu_s" -> d.cpuS, "tasks" -> d(K.Tasks).toDouble))
      }
      (out, d)
    } finally if (tracing) {
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prevKey)
    }
  }

  /** Per-name sums of the deltas of traced calls since the last [[resetTotals]]. */
  val totals = mutable.Map[String, Snap]().withDefaultValue(Snap.zero)
  def resetTotals(): Unit = totals.clear()

  /** A call into a layer: measured, recorded and summed into [[totals]]
    * when tracing, run bare otherwise. */
  def time[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val (out, d) = measure(name)(body)
      totals(name) = totals(name) + d
      out
    }

  def writeSpans(path: java.nio.file.Path): Unit = spans.synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startUs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"run":"${s.run}","attrs":{$attrs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def spanCount: Int = spans.synchronized(spans.size)
}

object Proc {
  /** Peak resident set (VmHWM) of this JVM in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
