package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions => H}

/** graft.plans.TopKByScore — the bounded-heap top-k aggregate. The
  * property that matters: for ANY partitioning, its result equals the
  * rank-window formulation's (same scores, same tie-breaks), because
  * partial heaps merge losslessly for the top k. */
class TopKAggSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  private def windowTopK(df: DataFrame, k: Int): Set[(Long, Long, Double, Int)] = {
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("i").asc)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
  }

  private def aggTopK(df: DataFrame, k: Int): Set[(Long, Long, Double, Int)] =
    df.groupBy(col("g"))
      .agg(H.topKByScore(col("s"), col("i"), k).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("g"), col("p.id"), col("p.score"),
        (col("pos") + 1).cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  /** Deterministic pseudo-random rows: 40 groups x 200 candidates with
    * hash-scattered scores, plus planted exact ties. */
  private lazy val rows = {
    import spark.implicits._
    val base = spark.range(8000).select(
      (col("id") % 40).as("g"),
      col("id").as("i"),
      ((col("id") * 2654435761L % 97L).cast("double") / 97.0).as("s"))
    // ties: candidates 7000..7039 all share score 0.5 in group 0
    val ties = spark.range(40).select(
      lit(0L).as("g"), (col("id") + 7000000L).as("i"), lit(0.5).as("s"))
    base.unionAll(ties)
  }

  test("equals the rank-window formulation, for any partitioning") {
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.repartition(parts)
      assert(aggTopK(df, 5) == windowTopK(df, 5), s"parts=$parts")
    }
  }

  test("ties break toward the lower id, groups smaller than k keep all") {
    import spark.implicits._
    val tiny = Seq(
      (1L, 10L, 0.9), (1L, 3L, 0.9), (1L, 7L, 0.9), // 3-way tie
      (2L, 99L, 0.1)) // group smaller than k
      .toDF("g", "i", "s").repartition(3)
    val got = tiny.groupBy(col("g"))
      .agg(H.topKByScore(col("s"), col("i"), 2).as("top"))
      .select(col("g"), col("top.id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(3L, 7L)) // lower ids win the tie, best-first
    assert(got(2L) == Seq(99L))
  }

  test("SQL registration: graft_topk(score, id, k)") {
    import spark.implicits._
    dropGraftFunctions()
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_topk(0.5D, 1L, 1)"))
    org.apache.spark.sql.graftbridge.Bridge.registerGraftFunctions(spark)
    Seq((1L, 5L, 0.3), (1L, 6L, 0.8)).toDF("g", "i", "s")
      .createOrReplaceTempView("tk_in")
    val out = spark.sql(
      "SELECT graft_topk(s, i, 1)[0].id AS best FROM tk_in GROUP BY g")
      .collect()(0).getLong(0)
    assert(out == 6L)
  }

  test("partial aggregation: the plan is ObjectHashAggregate, not a window") {
    val plan = rows.groupBy(col("g"))
      .agg(H.topKByScore(col("s"), col("i"), 5).as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert(!plan.contains("Window"))
  }
}
