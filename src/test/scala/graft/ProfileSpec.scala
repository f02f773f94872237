package graft

/** The one remaining profiler keeps running against the registry, and
  * the specs run the shipped session config (so a spec, a profile and
  * the benchmark measure the same engine). */
class ProfileSpec extends SparkSpec {

  // Jobs and stages per query on the spec session at sf0.001, each
  // measured twice in two JVMs. They pin the plans of the graph family
  // and of the reference loads (the self-targeted ones run one window
  // dedup pass, no cache). Parquet reads take their schema from the
  // footer and add no job. A change that moves one says why. The four
  // graph queries compute their candidate pairs once, in the edge cut's
  // count (DedupQueries.edgeSet), whose |E| sizes the cut for the
  // planner; LPA and BFS rounds run one aggregate.
  private val pins = Seq(
    "graph_kcore" -> (23, 23),
    "graph_pagerank" -> (29, 29),
    "graph_label_prop" -> (22, 22),
    "graph_bfs_reach" -> (23, 23),
    "dedup_clusters" -> (27, 27),
    "dedup_clusters_star" -> (30, 30),
    "dedup_keep_best" -> (29, 29),
    "wor_forecast_load" -> (8, 8),
    "wor_forecast_rerun_zero" -> (8, 8),
    "wor_cuotas_categoria_load" -> (5, 5),
    "ventas_incremental" -> (6, 6),
    "cartera_load" -> (3, 3),
    "pending_orders_load" -> (5, 5))

  for ((q, (jobs, stages)) <- pins)
    test(s"Profile counts jobs and stages for $q at sf0.001") {
      val runs = tools.Profile.run(spark, Sf, Seq(q), reps = 1)
      assert(runs.map(_.name) == Seq(q))
      val r = runs.head
      assert(r.jobs >= 1, r.line)
      assert(r.stages >= r.jobs, r.line)
      assert(r.secs > 0, r.line)
      assert(r.line.matches(
        raw"""\[jobs\] $q rep1: \d+\.\d\d s  jobs=\d+  stages=\d+  task_ms=\d+"""),
        r.line)
      assert((r.jobs, r.stages) == ((jobs, stages)), r.line)
    }

  test("a failing run is recorded, not thrown, and leaks into no other record") {
    val missing = tools.Profile.run(spark, "/nonexistent/sf", Seq("q1_agg"), reps = 1)
    assert(missing.map(r => (r.name, r.ok)) == Seq(("q1_agg", false)))
    assert(missing.head.error.exists(_.nonEmpty), missing.head.line)
    val runner = new tools.Profile.Runner(spark, "profile")
    try {
      // a job that dies in its tasks: its events belong to its own record
      val died = runner("task_failure", 1)(
        spark.range(4).rdd.foreach(_ => throw new IllegalStateException("boom")))
      assert(!died.ok && died.error.exists(_.contains("boom")), died.line)
      assert(died.jobs == 1, died.line)
      val r = runner.query("graph_kcore", 1, Sf)
      assert(r.ok, r.line)
      assert((r.jobs, r.stages) == ((23, 23)), r.line)
      for ((k, v) <- Seq("gc_ms" -> r.gcMs, "jit_ms" -> r.jitMs, "cgen" -> r.cgen,
          "task_ms" -> r.taskMs, "cpu_ms" -> r.cpuMs))
        assert(v >= 0, s"$k: ${r.json}")
      assert(r.taskMs > 0, r.json)
    } finally runner.close()
  }

  test("the runner releases every lineage cut a graph query leaves behind") {
    // pagerank's and bfs's cuts, and each convergence loop's final cut,
    // are localCheckpoint RDDs that clearCache() does not reach
    val runner = new tools.Profile.Runner(spark, "profile")
    try for (q <- Seq("graph_pagerank", "graph_bfs_reach")) {
      val r = runner.query(q, 1, Sf)
      assert(r.ok, r.line)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, q)
      // A frame still held after its run keeps its cuts reachable, so no
      // GC-driven ContextCleaner pass can drop them: only the runner does.
      var held: org.apache.spark.sql.DataFrame = null
      val h = runner(q, 2) {
        held = SparkEntry.queries(q)(spark, Sf)
        tools.Profile.noop(held)
      }
      assert(h.ok && held != null, h.line)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"$q, frame held")
    } finally runner.close()
  }

  test("the spec session carries Session's shipped confs") {
    // spark.sql.extensions, spark.sql.parquet.aggregatePushDown, AQE, ...
    for ((k, v) <- Session.confs(2))
      assert(spark.conf.get(k) == v, k)
  }
}
