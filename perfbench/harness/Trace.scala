package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters fed by a `SparkListener` (dispatch, executor, scan,
  * shuffle, spill, AQE) and a `QueryExecutionListener` (planning phases
  * from `QueryExecution.tracker`), plus JVM-wide JIT/GC/codegen totals.
  * Registered only for a traced run. */
final class Counters extends SparkListener with QueryExecutionListener {
  import Counters._

  private val c = Array.fill(Names.length)(new AtomicLong)
  private def add(i: Int, v: Long): Unit = c(i).addAndGet(v)
  private def max(i: Int, v: Long): Unit = c(i).accumulateAndGet(v, math.max)

  /** (jobId, start epoch ms, end epoch ms or -1) — for driver gaps. */
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add(Jobs, 1); jobs.put(e.jobId, Array(e.time, -1L))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_(1) = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(Stages, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(Tasks, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(RunMs, m.executorRunTime)
      add(CpuMs, m.executorCpuTime / 1000000L)
      add(DeserMs, m.executorDeserializeTime)
      add(SchedDelayMs, math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      add(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      add(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      add(FetchWaitMs, m.shuffleReadMetrics.fetchWaitTime)
      add(SpillMem, m.memoryBytesSpilled)
      add(SpillDisk, m.diskBytesSpilled)
      max(PeakMem, m.peakExecutionMemory)
      add(BytesRead, m.inputMetrics.bytesRead)
      add(RecordsRead, m.inputMetrics.recordsRead)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => add(AqeUpdates, 1)
    case _ =>
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    add(AnalysisMs, ms("analysis"))
    add(OptimizationMs, ms("optimization"))
    add(PlanningMs, ms("planning"))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  /** Current totals; peak memory is reset so each span sees its own max. */
  def snapshot(): Array[Long] = {
    val s = c.map(_.get)
    s(JitMs) = Counters.jitMs(); s(GcMs) = Counters.gcMs()
    s(CodegenCompiles) = Counters.codegenCompiles()
    c(PeakMem).set(0L)
    s
  }
}

object Counters {
  val Names: IndexedSeq[String] = IndexedSeq(
    "dispatch.jobs", "dispatch.stages", "dispatch.tasks", "dispatch.sched_delay_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.deser_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.mem_bytes", "spill.disk_bytes", "exec.peak_mem_bytes",
    "scan.bytes_read", "scan.records_read", "plan.aqe_updates",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "jvm.jit_ms", "jvm.gc_ms", "codegen.compiles")
  private def at(n: String) = Names.indexOf(n)
  val Jobs = at("dispatch.jobs"); val Stages = at("dispatch.stages")
  val Tasks = at("dispatch.tasks"); val SchedDelayMs = at("dispatch.sched_delay_ms")
  val RunMs = at("exec.run_ms"); val CpuMs = at("exec.cpu_ms")
  val DeserMs = at("exec.deser_ms"); val ShuffleWrite = at("shuffle.write_bytes")
  val ShuffleRead = at("shuffle.read_bytes"); val FetchWaitMs = at("shuffle.fetch_wait_ms")
  val SpillMem = at("spill.mem_bytes"); val SpillDisk = at("spill.disk_bytes")
  val PeakMem = at("exec.peak_mem_bytes"); val BytesRead = at("scan.bytes_read")
  val RecordsRead = at("scan.records_read"); val AqeUpdates = at("plan.aqe_updates")
  val AnalysisMs = at("plan.analysis_ms"); val OptimizationMs = at("plan.optimization_ms")
  val PlanningMs = at("plan.planning_ms"); val JitMs = at("jvm.jit_ms")
  val GcMs = at("jvm.gc_ms"); val CodegenCompiles = at("codegen.compiles")

  def jitMs(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime
    else 0L
  }
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** One span: a call the harness makes into a layer. `probe` marks the
  * extra calls a traced run adds (prefix timings); everything else is
  * the op's own work. Counter deltas are taken at the span's ends after
  * draining the listener bus. */
final case class Span(id: Int, parent: Int, op: Int, name: String, probe: Boolean,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, delta: Array[Long])

/** Spans kept in memory and written out at the end of the run. With
  * tracing off, `span` just runs its body. */
final class Tracer(spark: SparkSession, val on: Boolean, t0: Long) {
  val counters: Option[Counters] = if (on) {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    Some(c)
  } else None
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = -1

  def span[T](name: String, probe: Boolean = false)(body: => T): T =
    counters match {
      case None => body
      case Some(c) =>
        val id = nextId; nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        org.apache.spark.perfbench.SparkBridge.drainListenerBus(spark)
        val before = c.snapshot()
        val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
        try body
        finally {
          val s1 = System.nanoTime(); val m1 = System.currentTimeMillis()
          org.apache.spark.perfbench.SparkBridge.drainListenerBus(spark)
          val after = c.snapshot()
          val d = after.indices.map { i =>
            if (i == Counters.PeakMem) after(i) else after(i) - before(i)
          }.toArray
          stack = stack.tail
          spans += Span(id, parent, op, name, probe, s0 - t0, s1 - t0, m0, m1, d)
        }
    }
}
