package graft

/** The one remaining profiler keeps running against the registry, and
  * the specs run the shipped session config (so a spec, a profile and
  * the benchmark measure the same engine). */
class ProfileSpec extends SparkSpec {

  test("Profile counts jobs and stages for graph_kcore at sf0.001") {
    val runs = tools.Profile.run(spark, Sf, Seq("graph_kcore"), reps = 1)
    assert(runs.map(_.name) == Seq("graph_kcore"))
    val r = runs.head
    assert(r.jobs >= 1, r.line)
    assert(r.stages >= r.jobs, r.line)
    assert(r.secs > 0, r.line)
    assert(r.line.matches(
      """\[jobs\] graph_kcore rep1: \d+\.\d\d s  jobs=\d+  stages=\d+  task_ms=\d+"""),
      r.line)
  }

  test("the spec session carries Session's shipped confs") {
    // spark.sql.extensions, spark.sql.parquet.aggregatePushDown, AQE, ...
    for ((k, v) <- Session.confs(2))
      assert(spark.conf.get(k) == v, k)
  }
}
