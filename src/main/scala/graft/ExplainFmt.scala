package graft
/** Dump `.explain("formatted")` for named queries to stdout, delimited
  * per query — the plans/rNN before/after evidence files. Iterative
  * queries (graph_*, dedup_clusters*) drive materialization from inside
  * their builder, so the printed plan is the FINAL frame's (the loop's
  * last round); that is the plan whose shape the optimization claims
  * are about. Runs at sf0.001 by default (plan shape, not timing —
  * override with SPARK_GRAFT_SF_DIR); local[4] keeps it cheap enough
  * to run beside a sweep without perturbing it.
  */
object ExplainFmt {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.build(4)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      println(s"===== $name")
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
