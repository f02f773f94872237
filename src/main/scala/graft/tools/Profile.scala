package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Per-query dispatch profile under the shipped session: wall seconds,
  * Spark job count, completed-stage count and executor task ms for each
  * named registry query, `reps` times each. Deterministic job/stage
  * counts are the evidence for changes that do not show in the physical
  * plan (the r21 fold of the eager-checkpoint job into the per-round
  * convergence count left the terminal plan identical). Not part of the
  * benchmark; per-layer timings of the reference loads and graph
  * loops come from `perfbench/run.py --trace 1`.
  *
  * Usage: Profile <query,query,...> [reps]; env as Bench
  * (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS). */
object Profile {

  final case class Run(name: String, rep: Int, secs: Double, jobs: Long,
      stages: Long, taskMs: Long) {
    def line: String =
      f"[jobs] $name rep$rep: $secs%.2f s  jobs=$jobs  stages=$stages  task_ms=$taskMs"
  }

  /** Run each query `reps` times on `spark` (a noop sink, caches cleared
    * after each run) and count what the scheduler did for it. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Seq[Run] = {
    val jobs, stages, taskMs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = e.stageInfo.taskMetrics
        if (m != null) taskMs.addAndGet(m.executorRunTime)
      }
    }
    def drain(): Unit =
      try Bridge.drainListenerBus(spark)
      catch { case _: java.util.concurrent.TimeoutException => () }
    spark.sparkContext.addSparkListener(listener)
    try for (rep <- 1 to reps; name <- names) yield {
      val fn = graft.SparkEntry.queries(name)
      drain()
      val j0 = jobs.get(); val s0 = stages.get(); val m0 = taskMs.get()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      drain()
      spark.catalog.clearCache()
      System.gc()
      Run(name, rep, secs, jobs.get() - j0, stages.get() - s0, taskMs.get() - m0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val names = args.headOption.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("graph_pagerank"))
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Session.build(cpus.toInt)
    // JIT/codegen warmup
    spark.range(2000000).selectExpr("sum(id)").collect()
    run(spark, sfDir, names, reps).foreach(r => println(r.line))
    spark.stop()
  }
}
