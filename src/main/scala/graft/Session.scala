package graft

import org.apache.spark.sql.SparkSession

/** Where every SparkSession is built: Bench, Verify, ExplainFmt, the tools
  * and the test suites all run under this config, so a profiler or a
  * spec measures what the benchmark runs. */
object Session {

  /** The shipped session config at `cpus` local cores. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // AQE on (runtime coalesce/skew/broadcast re-plan) and runtime bloom
    // filters for the big anti-join paths (SURVEY.md 4.2-4.3).
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // count(*)-style parameter derivations (LSH planes, IVF stride)
    // become parquet-footer reads instead of full count jobs
    "spark.sql.parquet.aggregatePushDown" -> "true",
    // Parquet TIMESTAMP(NANOS) columns (one of the `events` layouts)
    // read as nanos longs, which Sources.normalizeTs converts. The
    // reader reads this conf when a scan executes, not when its frame is
    // built, so it must hold for the whole session.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Static: Spark's generated-class cache (default 100 entries). The
    // four graph loops and eight reference loads compile ~310 distinct
    // classes (the driver and the executor threads key a class under
    // their own classloader), so at 100 every warm run recompiled ~330
    // of them; at 1000 a warm run compiles none, at 500 a few
    // (graft.tools.Profile at sf0.01 on 4 cores; PERF.md).
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.ui.enabled" -> "false",
    // Even with the UI off, SQLAppStatusListener retains the last
    // 1000 SQL executions — each holding the FULL physical-plan
    // description string (100s of KB for the iterative/unrolled
    // plans). A 160-query × reps sweep never evicts, so heap climbs
    // monotonically and the tail of the sweep runs under GC pressure
    // (a full benchmark sweep measured iterative queries at 7-14x
    // their isolated cost for exactly this reason). Same for the
    // job/stage/task status stores. Cap them to what a live debugger
    // would actually look at.
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "200",
    "spark.ui.retainedTasks" -> "2000")

  /** Build (or join) the session: [[confs]], then the
    * `SPARK_GRAFT_CONF` passthrough, then the tmpfs [[localDir]], then
    * the caller's `overrides` — later entries win. */
  def build(cpus: Int, overrides: Map[String, String] = Map.empty): SparkSession = {
    // r20: optional conf overrides for measurement A/Bs, e.g.
    // SPARK_GRAFT_CONF="spark.io.compression.codec=zstd;spark.x=y".
    // Unset (the benchmark's case) this is a no-op — the bench config
    // is exactly `confs`.
    val passthrough = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val all = confs(cpus) ++ passthrough ++
      localDir.map("spark.local.dir" -> _) ++ overrides
    val spark = all.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Shuffle/spill directory: tmpfs when the box has one (r16 A/B,
    * PERF.md: the stage-dense family — graph_*, dedup_clusters*,
    * keep_best — runs 0.69x total with shuffle files on /dev/shm vs the
    * shared virtio /tmp, per-query 0.52-0.76x, and the r16 stage-dense
    * probe's rep spread collapses from 4.49-5.76 s to 4.27-4.36 s: the
    * disk was both a tax and a noise source). On a real cluster this is
    * the standard fast-local-storage shuffle-dir practice; at these
    * bench SFs one query's shuffle is MBs, far under the tmpfs size.
    * SPARK_LOCAL_DIRS (Spark's own env knob) takes precedence when set;
    * a box without a writable /dev/shm falls back to Spark's default.
    * Lazy so the sweep and the shutdown hook run once per JVM, however
    * many suites or mains build a session in it. */
  private lazy val localDir: Option[String] = {
    if (sys.env.contains("SPARK_LOCAL_DIRS")) None
    else {
      val root = new java.io.File("/dev/shm/graft-shuffle")
      if ((root.isDirectory || root.mkdirs()) && root.canWrite) {
        // Stale shuffle dirs from killed JVMs accumulate in RAM-backed
        // tmpfs across runs: sweep dead-pid subroots at
        // startup, then refuse tmpfs if <8 GiB would remain free —
        // better the slow default dir than an OOM-killing one.
        sweepStale(root)
        // Each JVM gets its OWN pid-named subroot (the previous marker
        // protocol — stamp a pid file into
        // every unmarked blockmgr-*/spark-* dir after getOrCreate — had
        // an ownership race where two near-simultaneous JVMs could
        // claim each other's dirs and a later sweep would delete a LIVE
        // JVM's shuffle dir mid-run). With a per-pid subroot there is
        // nothing to claim: liveness is the dir name itself against
        // /proc, concurrent mains never share a subtree, and the marker
        // protocol is gone entirely.
        val mine = new java.io.File(root, ProcessHandle.current().pid().toString)
        if (root.getUsableSpace >= 8L * 1024 * 1024 * 1024 &&
            (mine.isDirectory || mine.mkdirs())) {
          // Best-effort tidy-up: Spark removes its own dirs inside the
          // subroot on clean shutdown; this drops the (then-empty) pid
          // dir too. Crashed runs are caught by the next sweepStale.
          Runtime.getRuntime.addShutdownHook(
            new Thread(() => deleteRecursively(mine)))
          Some(mine.getPath)
        } else None
      } else None
    }
  }

  /** Delete subroots left by JVMs that are no longer alive. Since r18
    * each JVM writes under its own pid-named subroot, so liveness is
    * just /proc/<pid>. Dirs named blockmgr-* or spark-* directly under
    * the root can only be leftovers from pre-r18 binaries (which wrote
    * at the root with a marker protocol); no such binary exists any
    * more — all mains rebuild together — so they are dead by
    * construction and swept unconditionally. */
  private def sweepStale(root: java.io.File): Unit = {
    val subs = Option(root.listFiles()).getOrElse(Array.empty)
    for (s <- subs if s.isDirectory) {
      val n = s.getName
      val stale =
        if (n.nonEmpty && n.forall(_.isDigit))
          !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"/proc/$n"))
        else n.startsWith("blockmgr-") || n.startsWith("spark-")
      if (stale) deleteRecursively(s)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
