package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The graph family's loops over one shared edge cut
  * ([[DedupQueries.edgeSet]]): the one-aggregate LPA round and the
  * self-loop BFS round compute what their two-pass forms computed, and
  * each graph query computes its candidate pairs once. */
class GraphLoopSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: Seq[(Long, Long)]): DataFrame =
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.toDF("i", "j")

  private def both(e: DataFrame): DataFrame =
    e.select(col("i").as("src"), col("j").as("dst"))
      .unionAll(e.select(col("j").as("src"), col("i").as("dst")))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** The two-aggregate LPA round: count per (node, label), then the
    * largest count, the smallest label among equal counts. */
  private def twoPassLpaRound(adj: DataFrame, labels: DataFrame): DataFrame =
    adj.join(labels.withColumnRenamed("v", "dst"), Seq("dst"))
      .groupBy(col("src"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("src"))
      .agg(max(struct(col("c"), (-col("lbl")).as("tb"), col("lbl").as("l"))).as("m"))
      .select(col("src").as("v"), col("m.l").as("lbl"))

  test("LPA: the one-aggregate round picks the smallest of equally frequent labels") {
    // node 0 sees labels 5, 5, 7, 7, 9 (5 and 7 tie); node 20 sees 8, 8, 3, 3 (3 wins)
    val adj = both(edges(Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 0L -> 6L,
      20L -> 21L, 20L -> 22L, 20L -> 23L, 20L -> 24L)))
    val labels = Seq(0L -> 0L, 1L -> 5L, 2L -> 5L, 3L -> 7L, 4L -> 7L, 6L -> 9L,
      20L -> 20L, 21L -> 8L, 22L -> 8L, 23L -> 3L, 24L -> 3L).toDF("v", "lbl")
    val one = rows(DedupQueries.lpaRound(adj, labels))
    assert(one == rows(twoPassLpaRound(adj, labels)))
    assert(one.toMap.apply(0L) == 5L && one.toMap.apply(20L) == 3L, one)
  }

  test("LPA: four one-aggregate rounds equal four two-aggregate rounds on a tie-heavy graph") {
    val rng = new scala.util.Random(7)
    // small labels range over few nodes: most rounds break count ties
    val adj = both(edges(Seq.fill(150)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter { case (a, b) => a != b })).cache()
    val labels0 = adj.select(col("src").as("v")).distinct().select(col("v"), col("v").as("lbl"))
    var one = labels0
    var two = labels0
    for (r <- 1 to 4) {
      one = DedupQueries.lpaRound(adj, one)
      two = twoPassLpaRound(adj, two)
      assert(rows(one) == rows(two), s"round $r")
    }
    adj.unpersist()
  }

  test("BFS: the self-loop round chain equals carry ∪ expand, isolated seeds and long paths included") {
    // a path 1-2-...-9 (8 hops, past the round count), a triangle, a
    // pendant pair, and seeds 1, 10, 50, 100 (50 and 100 have no edge)
    val e = edges((1L to 8L).map(v => v -> (v + 1)) ++
      Seq(10L -> 11L, 11L -> 12L, 10L -> 12L, 30L -> 31L))
    val seeds = Seq(1L, 10L, 50L, 100L).toDF("v")
    val d0 = seeds.select(col("v"), lit(0L).as("hop"))
    val adj2 = both(e)
    val carryExpand = (1 to DedupQueries.BfsRounds).foldLeft(d0) { (d, _) =>
      d.unionAll(d.join(adj2, col("v") === col("src"))
          .select(col("dst").as("v"), (col("hop") + 1).as("hop")))
        .groupBy(col("v")).agg(min(col("hop")).as("hop"))
    }
    val adj = DedupQueries.bfsAdjacency(e, seeds)
    val selfLoop = (1 to DedupQueries.BfsRounds).foldLeft(d0)((d, _) => DedupQueries.bfsRound(d, adj))
    val got = rows(selfLoop)
    assert(got == rows(carryExpand))
    val expect = (1L to 5L).map(v => v -> (v - 1)) ++
      Seq(10L -> 0L, 11L -> 1L, 12L -> 1L, 50L -> 0L, 100L -> 0L)
    assert(got == expect.sorted, got)
  }

  test("the edge cut plans at its counted size, not the candidate-pair join's estimate") {
    val (e, m) = DedupQueries.edgeSet(spark, Sf)
    try {
      val stats = e.queryExecution.optimizedPlan.stats
      assert(m > 0 && stats.rowCount.contains(BigInt(m)), stats)
      assert(stats.sizeInBytes == BigInt(m) * 24, stats) // 8 B row overhead + two longs
      assert(e.collect().length == m)
    } finally DedupQueries.cutRdd(e).foreach(_.unpersist())
  }

  /** Joins keyed on the shingle `h` in an executed plan: through AQE
    * query stages and into the plans of cached relations it scans. */
  private def shingleJoins(p: SparkPlan): Int = {
    val here = p match {
      case j: BaseJoinExec
          if j.leftKeys.flatMap(_.references.map(_.name)) == Seq("h") => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    here + kids.map(shingleJoins).sum
  }

  for (q <- Seq("graph_kcore", "graph_pagerank", "graph_label_prop", "graph_bfs_reach"))
    test(s"$q computes the shingle self-join in one execution, once") {
      val perExecution = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
      val listener = new QueryExecutionListener {
        override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
          perExecution.add(name -> shingleJoins(qe.executedPlan)): Unit
        override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        tools.Profile.noop(SparkEntry.queries(q)(spark, Sf))
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
      }
      import scala.jdk.CollectionConverters._
      val runs = perExecution.asScala.toSeq
      // the edge cut's own execution, the query's first, is the only one
      assert(runs.headOption.contains("localCheckpoint" -> 1), runs)
      assert(runs.map(_._2).filter(_ > 0) == Seq(1), runs)
    }
}
