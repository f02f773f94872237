package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** The registry runner. [[Profile.Runner]] is the one code path that runs
  * a registry query and measures it: Bench, Verify, Scaling and this
  * profiler all go through it, so they share one timed region, one
  * listener, one failure policy, one cleanup order and one record
  * ([[Profile.Run]]). [[Profile.sweep]] is the one multi-rep registry
  * sweep (Bench and Scaling), [[Profile.median]] its one summary.
  *
  * `main` is the per-query dispatch profile under the shipped session:
  * wall seconds, Spark job count, completed-stage count and executor
  * task ms for each named registry query, `reps` times each, followed
  * by the run's full record (GC, JIT, codegen compiles, heap).
  * Deterministic job/stage counts are the evidence for changes that do
  * not show in the physical plan (the r21 fold of the eager-checkpoint
  * job into the per-round convergence count left the terminal plan
  * identical). Not part of the benchmark; per-layer timings of the
  * reference loads and graph loops come from `perfbench/run.py --trace 1`.
  *
  * Usage: Profile <query,query,...> [reps]; env as Bench
  * (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS). */
object Profile {

  /** One run's record. `error` holds the message of a run that threw (a
    * failing run is recorded, never rethrown); every count is a delta
    * over the run; `heapMb` is the heap in use after the run, read
    * before its caches are dropped. */
  final case class Run(name: String, rep: Int, error: Option[String],
      secs: Double, jobs: Long, stages: Long, taskMs: Long, cpuMs: Long,
      gcMs: Long, jitMs: Long, cgen: Long, heapMb: Long) {
    def ok: Boolean = error.isEmpty
    def line: String =
      f"[jobs] $name rep$rep: $secs%.2f s  jobs=$jobs  stages=$stages  task_ms=$taskMs" +
        error.fold("")(m => s"  FAILED: $m")
    /** Bench's per-rep attribution record (BENCH_FULL.json). */
    def json: String =
      f"""{"t":$secs%.3f,"gc_ms":$gcMs,"jit_ms":$jitMs,"cgen":$cgen,""" +
        s""""task_ms":$taskMs,"cpu_ms":$cpuMs,"heap_mb":$heapMb,""" +
        s""""jobs":$jobs,"stages":$stages}"""
  }

  /** Cumulative stop-the-world GC milliseconds across all collectors —
    * sampled before/after each timed run so every rep carries its own
    * GC tax on the record (the round-10 verdict's variance ask: read
    * noise from data, not from re-bisecting adjudicated queries). */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def heapUsedMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  /** Cumulative JIT compilation milliseconds (HotSpot background
    * compiler threads). A rep whose wall time inflates WITH a large
    * jit_ms delta is paying the whole-JVM warm-up/deopt mode the r13/r14
    * sweeps kept re-adjudicating by hand; a flat delta rules it out. */
  private def jitMillis(): Long = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime
    else 0L
  }

  /** Cumulative count of whole-stage-codegen source compilations
    * (Janino invocations behind CodeGenerator.cache misses). A nonzero
    * per-rep delta means this rep compiled fresh generated code; zero
    * means every fragment was a codegen-cache hit. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Untimed JVM/codegen/shuffle-machinery warm-up: without it that
    * spin-up lands entirely on whichever query happens to run first. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(2000000).selectExpr("sum(id)").collect()

  /** The timing sink. noop, not count(): under count() Catalyst prunes
    * every unreferenced projection and eliminates the final sort, so a
    * scan -> expensive-projection -> orderBy query times its row COUNT,
    * not its work (measured: q1_agg 0.75 s counted vs 1.59 s actually
    * executed). The noop sink runs the full physical plan and discards
    * rows at the sink boundary. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs and measures one body at a time on `spark`. Its listener
    * counts jobs started, stages completed, and every task's executor
    * run and CPU ms (from task-end events, so killed and failed tasks
    * count too). Per-rep task time localizes a slow rep: wall >>
    * task_ms/cores with flat jit/cgen/gc puts it OUTSIDE task execution
    * (driver, planning, listener debris); task_ms up with cpu_ms up
    * means the work itself ran slower. Failures are logged to stderr as
    * `[tag] name failed: message`. `close` detaches the listener. */
  final class Runner(spark: SparkSession, val tag: String) {
    private val jobs, stages, taskMs, cpuMs = new AtomicLong
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // Events arrive async on the listener bus; draining it before and
    // after the timed region (outside it) makes the deltas cover exactly
    // this run's events.
    private def drain(): Unit =
      try Bridge.drainListenerBus(spark)
      catch { case _: java.util.concurrent.TimeoutException => () }

    /** Time `body` (which builds and sinks its frame) and record it. */
    def apply(name: String, rep: Int)(body: => Unit): Run = {
      drain()
      val j0 = jobs.get(); val s0 = stages.get()
      val task0 = taskMs.get(); val cpu0 = cpuMs.get()
      val gc0 = gcMillis(); val jit0 = jitMillis(); val cgen0 = codegenCompiles()
      val t0 = System.nanoTime()
      val error =
        try { body; None }
        catch { case e: Throwable =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}")
          Some(String.valueOf(e.getMessage))
        }
      val secs = (System.nanoTime() - t0) / 1e9
      drain()
      val r = Run(name, rep, error, secs, jobs.get() - j0, stages.get() - s0,
        taskMs.get() - task0, cpuMs.get() - cpu0, gcMillis() - gc0,
        jitMillis() - jit0, codegenCompiles() - cgen0, heapUsedMb())
      // Untimed: a query that persist()s subtrees must not pay for the
      // drop in its own number. clearCache() does not reach lineage cuts:
      // a localCheckpoint is a persisted RDD, not a cache entry, so the
      // cuts the graph loops keep (and each loop's final one) are
      // released here by hand. Broadcasts and shuffle dependencies
      // release via ContextCleaner, which only fires on GC; collecting
      // here keeps every run starting from the same clean slate instead
      // of the tail of a sweep paying for the debris.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
      System.gc()
      r
    }

    /** Run registry query `name` over `sfDir` into `sink`. */
    def query(name: String, rep: Int, sfDir: String,
        sink: DataFrame => Unit = noop): Run =
      apply(name, rep)(sink(graft.SparkEntry.queries(name)(spark, sfDir)))

    def close(): Unit = spark.sparkContext.removeSparkListener(listener)
  }

  /** The registry sweep: `reps` passes over `names`, each pass in a fresh
    * seeded-random order, every run into the noop sink. Returns every run,
    * failed ones included, in run order.
    *
    * Passes, not back-to-back reps: the r10 spread data showed 3-10x
    * same-build rep spreads concentrated on whichever queries followed
    * heavy neighbors, and consecutive reps couple every rep of a query to
    * ONE neighborhood, so the median inherits the neighborhood, not the
    * query. A fresh order per pass gives each rep a different
    * predecessor (measured on 222 queries: max rep-spread ratio 9.87x ->
    * 2.15x, median 1.60x -> 1.28x — PERF.md r11). The fixed seed keeps
    * the orders reproducible run-to-run. */
  def sweep(runner: Runner, sfDir: String, names: Seq[String], reps: Int): Seq[Run] = {
    val rng = new scala.util.Random(20260814L)
    for (rep <- 1 to reps; name <- rng.shuffle(names)) yield {
      // stderr marker so per-query attribution of Spark warnings (e.g.
      // "Broadcasting large task binary") is greppable from a sweep log
      System.err.println(s"[${runner.tag}] >>> $name rep$rep")
      runner.query(name, rep, sfDir)
    }
  }

  /** One query's summary over `reps` reps: the lower median of its ok
    * runs' wall seconds, or -1 when a rep failed — a failed query must
    * not masquerade as a fast one. The lower median for an even count is
    * the conservative index that is an actual observed timing. */
  def median(runs: Seq[Run], reps: Int): Double = {
    val ts = runs.filter(_.ok).map(_.secs).sorted
    if (ts.size < reps) -1.0 else ts((ts.size - 1) / 2)
  }

  /** Run each query `reps` times on `spark` into the noop sink. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Seq[Run] = {
    val runner = new Runner(spark, "profile")
    try for (rep <- 1 to reps; name <- names) yield runner.query(name, rep, sfDir)
    finally runner.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val names = args.headOption.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("graph_pagerank"))
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Session.build(cpus.toInt)
    warmUp(spark)
    run(spark, sfDir, names, reps).foreach(r => println(s"${r.line}  ${r.json}"))
    spark.stop()
  }
}
