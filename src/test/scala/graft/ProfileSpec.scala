package graft

/** The one remaining profiler keeps running against the registry, and
  * the specs run the shipped session config (so a spec, a profile and
  * the benchmark measure the same engine). */
class ProfileSpec extends SparkSpec {

  // Jobs and stages per query on the spec session at sf0.001, measured
  // twice (two JVMs, two reps each) on the hand-rolled convergence loops
  // before they moved onto DedupQueries.untilStable. They pin the plans
  // of the graph family: a change that moves one says why.
  private val pins = Seq(
    "graph_kcore" -> (26, 26),
    "graph_pagerank" -> (39, 39),
    "graph_label_prop" -> (40, 40),
    "graph_bfs_reach" -> (30, 30),
    "dedup_clusters" -> (29, 29),
    "dedup_clusters_star" -> (32, 32),
    "dedup_keep_best" -> (32, 32))

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

  test("the spec session carries Session's shipped confs") {
    // spark.sql.extensions, spark.sql.parquet.aggregatePushDown, AQE, ...
    for ((k, v) <- Session.confs(2))
      assert(spark.conf.get(k) == v, k)
  }
}
