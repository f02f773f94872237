package graft.tools

/** Standing cross-SF scaling audit (round-9 verdict task 7): bench the
  * FULL registry at sf0.01 and sf0.1 (10x the data) in one JVM and emit
  * `SCALING.json` — per-query seconds at both scale factors, the ratio,
  * and the list of queries whose cost grew faster than the data. The
  * round-8 audit ran once by hand and found zero superlinear shapes;
  * this makes it a per-round artifact so a scale regression surfaces
  * the round it ships, not two rounds later.
  *
  * A query is flagged superlinear when t(sf0.1) > 10 x t(sf0.01) AND
  * the large-SF time exceeds 0.5 s — the floor keeps sub-noise timings
  * (a 30 ms query jittering to 400 ms) from crying wolf. Each SF dir
  * is swept once through [[Profile.sweep]], the sweep Bench runs, and
  * each query's time is its [[Profile.median]].
  *
  * Run: SPARK_GRAFT_SCALING_REPS=2 sbt 'runMain graft.tools.Scaling'
  * (writes SCALING.json in the working directory). The decade is
  * env-configurable for the second-decade study (r11):
  * SPARK_GRAFT_SCALING_SMALL / _LARGE pick the two dirs,
  * SPARK_GRAFT_SCALING_ONLY (comma-separated names) restricts the
  * sweep, SPARK_GRAFT_SCALING_OUT renames the output file. */
object Scaling {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "2").toInt)
    // Session's tmpfs shuffle-dir policy (r16 A/B) holds for BOTH
    // decade sides, so ratios are unaffected by the level.
    val spark = graft.Session.build(cpus.toInt)
    Profile.warmUp(spark)
    val runner = new Profile.Runner(spark, "scaling")

    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SCALING_SMALL", "/root/testdata/sf0.01")
    val largeDir = sys.env.getOrElse("SPARK_GRAFT_SCALING_LARGE", "/root/testdata/sf0.1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "SCALING.json")
    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

    val named = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
    def medians(sfDir: String): Map[String, Double] =
      Profile.sweep(runner, sfDir, named, reps).groupBy(_.name)
        .map { case (name, runs) => name -> Profile.median(runs, reps) }

    val small = medians(smallDir)
    val large = medians(largeDir)
    def f(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val rows = named.map { n =>
      val (s, l) = (small(n), large(n))
      val ratio = if (s > 0 && l >= 0) l / s else -1.0
      s""""$n":{"sf001":${f(s)},"sf01":${f(l)},"ratio":${f(ratio)}}"""
    }
    val superlinear = named.filter { n =>
      val (s, l) = (small(n), large(n))
      s > 0 && l > 10 * s && l > 0.5
    }
    val totS = small.values.filter(_ >= 0).sum
    val totL = large.values.filter(_ >= 0).sum
    val json =
      s"""{"reps":$reps,"data_factor":10,"total_sf001":${f(totS)},""" +
      s""""total_sf01":${f(totL)},"total_ratio":${f(totL / totS)},""" +
      s""""small_dir":"$smallDir","large_dir":"$largeDir",""" +
      s""""superlinear":${superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""queries":{${rows.mkString(",")}}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile), json.getBytes("UTF-8"))
    println(s"[scaling] total $smallDir ${f(totS)} s, $largeDir ${f(totL)} s, " +
      s"ratio ${f(totL / totS)} on 10x data; superlinear: " +
      (if (superlinear.isEmpty) "none" else superlinear.mkString(", ")))
    spark.stop()
  }
}
