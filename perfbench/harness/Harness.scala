package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The benchmark's JVM side: one `local[nproc]` Spark process that runs a
  * workload's ops as a closed loop with one client (each op starts when
  * the previous one returns) over one timed pass, then writes what it
  * measured to `<out>/result.json` for perfbench/run.py.
  *
  * Protocol with run.py: the line `READY` on stdout marks the end of
  * set-up (the first timed op is ready); `DONE` marks the end of the
  * run, after which the process waits for stdin to close so its peak
  * RSS can be read from /proc, then halts.
  *
  *   perfbench.Harness --workload W --in DIR --out DIR --trace 0|1
  *     [--queries a,b,...]
  */
object Harness {

  /** Session settings, copied from `graft.Bench.main`. */
  def session(out: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.aggregatePushDown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  private def str(s: String) = "\"" + esc(s) + "\""
  private def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
  private def obj(kv: Iterable[(String, String)]) =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    // run.py holds stdin open for the whole run: its end means either the
    // run is over (peak RSS read) or run.py died — exit at once either way
    @volatile var done = false
    val watch = new Thread(() => {
      while (System.in.read() != -1) {}
      Runtime.getRuntime.halt(if (done) 0 else 3)
    })
    watch.setDaemon(true)
    watch.start()
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val (in, out) = (opt("in"), opt("out"))
    val spark = session(out)
    System.err.println(f"[perfbench] session ready after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val units = new java.io.File(in).list().filter(_.startsWith("day")).sorted.toSeq
    val queries = opt.get("queries").map(_.split(',').toSeq).getOrElse(Nil)
    // Warm-up (as graft.Bench): Spark's first job pays for its own
    // start-up, which would otherwise land on the first timed op.
    spark.range(1000).selectExpr("sum(id)").collect()
    // Then one untimed pass of the workload's own ops (the first day
    // slice, or the corpus): cold passes varied by a factor 1.6 between
    // runs of one seed (JIT, class loading), which no per-run median
    // absorbed. That cost is set-up, which a nightly process pays once.
    val warm = new Ops(spark, in, s"$out/warm", new Tracer(spark, false, t0))
    val warmOps = workload match {
      case "loads_daily" => warm.loadOps(units.head, 0)
      case "dedup_graph" => warm.dedupOps("corpus", queries, 0)
    }
    for (op <- warmOps) { op.run(); spark.catalog.clearCache() }
    System.gc()
    System.err.println(f"[perfbench] warm-up done after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    println("READY"); Console.flush()

    // The timed window is a fixed amount of work whatever the program's
    // speed: one pass over the next day slice, or over the corpus again.
    // A faster program must not buy itself extra, warmer passes.
    val tr = new Tracer(spark, opt("trace") == "1", t0)
    val ops = new Ops(spark, in, out, tr)
    val timed = workload match {
      case "loads_daily" => ops.loadOps(units(1), 1)
      case "dedup_graph" => ops.dedupOps("corpus", queries, 0)
    }

    // (op id, op, start ns, end ns, error message or null); times are on
    // the spans' clock (ns since t0) but taken outside the op's span, so
    // run.py can reconcile the spans with them
    val recs = ArrayBuffer.empty[(Int, Op, Long, Long, String)]
    val blocks = ArrayBuffer.empty[Int]
    val heapLive = ArrayBuffer.empty[Long]
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    for (op <- timed) {
      tr.op = recs.size
      val s = System.nanoTime()
      val err =
        try { tr.span(s"op:${op.name}")(op.run()); null }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} FAILED: $e")
          String.valueOf(e.getMessage)
        }
      recs += ((recs.size, op, s - t0, System.nanoTime() - t0, err))
      // between ops, untimed: drop cached blocks, and collect so that
      // no op pays for the garbage of the one before (as graft.Bench)
      spark.catalog.clearCache()
      if (tr.on) blocks += org.apache.spark.perfbench.SparkBridge.rddBlocks()
      System.gc()
      if (tr.on) heapLive += heap.getHeapMemoryUsage.getUsed
    }

    // ---- untimed: what the output checks and the layer report need
    val accounting = if (tr.on && workload != "dedup_graph")
      recs.map(_._2.unit).distinct.map { u =>
        val a = ops.accounting(u); spark.catalog.clearCache()
        u -> obj(a.map { case (k, m) => k -> obj(m.map { case (n, v) => n -> v.toString }) })
      }
    else Nil
    for ((name, stamp, rows, schema) <- ops.collected)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/check/$name/$stamp")
    val names = recs.map(_._2.name).distinct
    val counterNames = arr(Counters.Names.map(str))
    val jobs = tr.counters.toSeq.flatMap(_.jobs.asScala.values.map(j => arr(j.map(_.toString))))

    val json = obj(Seq(
      "ops" -> arr(recs.map { case (id, op, s, e, err) => obj(Seq(
        "id" -> id.toString, "name" -> str(op.name), "unit" -> str(op.unit),
        "stamp" -> op.stamp.toString,
        "start_ns" -> s.toString, "end_ns" -> e.toString,
        "error" -> (if (err == null) "null" else str(err))))
      }),
      "oracle_sql" -> obj(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> str(_)))),
      "accounting" -> obj(accounting),
      "blocks_left" -> arr(blocks.map(_.toString)),
      "heap_live" -> arr(heapLive.map(_.toString)),
      "counter_names" -> counterNames,
      "jobs" -> arr(jobs),
      "spans" -> arr(tr.spans.map { s => obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> str(s.name), "probe" -> s.probe.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "delta" -> arr(s.delta.map(_.toString))))
      })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/result.json"), json)
    done = true
    println("DONE"); Console.flush()
    watch.join()
  }
}
