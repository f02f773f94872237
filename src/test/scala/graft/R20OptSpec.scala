package graft

import org.apache.spark.sql.functions._

/** Pins for the round-20 optimization internals.
  *
  * O1 — Sources.scatter: the scale-adaptive scan scatter must
  * repartition a scan with fewer row groups than half the session
  * parallelism — however many byte splits Spark plans for it — and be
  * an exact no-op (same plan object, no added exchange) when the
  * input is already split at least half as wide as the session.
  *
  * O2 — the localCheckpoint lineage cut must (a) preserve the
  * rows/schema it cuts and (b) leave the LogicalRDD leaf with the
  * size estimate of the plan it cut instead of the defaultSizeInBytes
  * sentinel, so the per-round graph-loop joins stay size-driven and
  * the small side broadcasts (the r20 SMJ→BHJ plan flips). That
  * estimate is only as honest as the cut plan's: over a join it is
  * the product of the inputs' sizes, which is why
  * [[DedupQueries.edgeSet]] replaces it with one from its count. The
  * checkpoint does NOT preserve outputPartitioning under AQE — a
  * same-key aggregate above the cut still plans its exchange; that
  * negative result is pinned in the test body so no future round
  * builds on the disproven partitioning-preservation claim. Both the
  * eager cut and the shipped lazy [[DedupQueries.cutLineage]] are
  * checked. */
class R20OptSpec extends SparkSpec {
  import graft.etl.Sources.needScatter

  test("scatter decision: fires only when the scan is under-split vs the session") {
    assert(needScatter(parts = 1, want = 32))      // the bench SF case
    assert(needScatter(parts = 15, want = 32))
    assert(!needScatter(parts = 16, want = 32))    // half-wide scan: leave it
    assert(!needScatter(parts = 2000, want = 32))  // cluster scale: no-op
    assert(!needScatter(parts = 1, want = 2))      // tiny session: not worth it
  }

  test("scatter: rows survive and land at session parallelism when fired") {
    // local[2] sessions never fire the rule (1*2 >= 2), so exercise the
    // repartition arm directly the way a 32-core session would reach it
    val df = spark.read.parquet(s"$Sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val scattered = df.repartition(
      spark.sparkContext.defaultParallelism, col("o_orderkey"))
    assert(scattered.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(scattered.count() == df.count())
    assert(scattered.join(df, Seq("o_orderkey"), "left_anti").isEmpty)
  }

  test("scatter: already-split input comes back untouched (no-op at scale)") {
    val wide = spark.range(0, 1000, 1,
      spark.sparkContext.defaultParallelism).toDF("k")
    val out = graft.etl.Sources.scatter(spark, wide, col("k"))
    assert(out eq wide) // the exact no-op branch, not a re-plan
  }

  test("scatter: a one-row-group file split by bytes still fires (row groups, not splits)") {
    import graft.etl.Sources
    // one data file plus the parquet summaries, which list its row
    // group again (`_metadata`) and are no data to scan
    val summarized = java.nio.file.Files.createTempDirectory("graft-scatter").toString + "/t"
    Sources.table(spark, Sf, "orders").coalesce(1).write
      .option("parquet.summary.metadata.level", "ALL").parquet(summarized)
    val maxBytes = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.get(maxBytes)
    spark.conf.set(maxBytes, "8192")
    try for (df <- Seq(Sources.table(spark, Sf, "orders"), Sources.parquet(spark, summarized))) {
      // one ~36 KB row group: 8 KB splits plan several partitions, all
      // but one empty — wide by the planned count
      val parts = df.rdd.getNumPartitions
      assert(!needScatter(parts, 4), s"parts=$parts")
      val out = Sources.scatter(spark, df, col("o_orderkey"), want = 4)
      assert(out ne df)
      assert(out.rdd.getNumPartitions == 4)
      assert(out.count() == df.count())
    } finally spark.conf.set(maxBytes, prior)
  }

  test("localCheckpoint cut preserves rows and carries usable size stats (join strategy stays size-driven)") {
    val base = spark.range(0, 1000).select(
      (col("id") % 37).as("src"), col("id").as("v"))
      .repartition(4, col("src"))
    // the eager cut (r20) and the shipped lazy one (r21), both checked
    for ((kind, cut) <- Seq(
        "eager" -> base.localCheckpoint(true),
        "lazy" -> DedupQueries.cutLineage(base))) {
      // (a) rows survive the cut (for the lazy cut, this count is the
      // action that materializes it)
      assert(cut.count() == 1000, kind)
      // (b) the LogicalRDD leaf carries a real (small) size estimate,
      // not the defaultSizeInBytes sentinel — this is what lets the
      // planner broadcast the small side of the per-round graph-loop
      // joins (the r20 plan flips SMJ -> BHJ in plans/r20/*_after.txt)
      val stats = cut.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(stats > 0 &&
        stats < spark.sessionState.conf.autoBroadcastJoinThreshold * 64,
        s"$kind stats=$stats")
      val big = spark.range(0, 200000).select(
        (col("id") % 37).as("src"), col("id").as("w"))
      val joined = big.join(cut.groupBy(col("src")).agg(sum(col("v")).as("sv")), Seq("src"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$kind: $plan")
      // NOTE (measured here, kept as a pin): the checkpoint does NOT
      // preserve outputPartitioning under AQE — a same-key aggregate
      // above the cut still plans its exchange. The r20 win is the
      // InternalRow store + honest stats, not partitioning reuse.
      val agg = cut.groupBy(col("src")).agg(sum(col("v")))
      assert(agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"), kind)
    }
  }
}
