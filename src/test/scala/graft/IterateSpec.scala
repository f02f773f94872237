package graft

import org.apache.spark.sql.functions._

/** [[DedupQueries.untilStable]], the convergence loop of the graph
  * family: its named round cap, and the release of superseded rounds
  * (a cut round's checkpoint RDD stays registered after
  * `Dataset.unpersist()`, so only the loop's own release drops it). */
class IterateSpec extends SparkSpec {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** ids {0..7} halve to {0..3}, {0, 1}, {0}: stable on round 3. */
  private def halve(uncutRounds: Int): (org.apache.spark.sql.DataFrame, Int) = {
    var rounds = 0
    val init = DedupQueries.cutLineage(spark.range(0, 8).toDF("id"))
    val last = DedupQueries.untilStable("halve", init, maxRounds = 10, uncutRounds)(
      _.select(floor(col("id") / 2).as("id")).distinct()) { (_, next) =>
      rounds += 1
      next.count() == 1
    }
    (last, rounds)
  }

  test("untilStable fails on its round cap with the loop name and round count") {
    val init = DedupQueries.cutLineage(spark.range(0, 10).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      DedupQueries.untilStable("spin", init, maxRounds = 3, uncutRounds = 1)(
        _.select((col("id") + 1).as("id")))((_, next) => next.count() < 0)
    }
    assert(e.getMessage.contains("spin: no fixpoint in 3 rounds"), e.getMessage)
  }

  test("untilStable with every round cut leaves only the final round's checkpoint") {
    val before = persistentIds
    val (last, rounds) = halve(uncutRounds = 0)
    assert(rounds == 3)
    assert(persistentIds -- before == Set(DedupQueries.cutRdd(last).get.id))
    assert(last.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("untilStable keeps a cut while the uncut round after it reads it") {
    // init cut, round 1 persisted, round 2 cut (round 1 and init
    // released), round 3 persisted over round 2's checkpoint
    val before = persistentIds
    val (last, rounds) = halve(uncutRounds = 1)
    assert(rounds == 3)
    assert(DedupQueries.cutRdd(last).isEmpty)
    spark.catalog.clearCache()
    assert((persistentIds -- before).size == 1)
    assert(last.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("graph_kcore leaves at most one checkpoint RDD after clearCache") {
    // no GC in between: the ContextCleaner must not be what frees them
    val before = persistentIds
    DedupQueries.kcore.fn(spark, Sf).collect()
    spark.catalog.clearCache()
    val left = persistentIds -- before
    assert(left.size <= 1, s"RDDs left: $left")
  }
}
