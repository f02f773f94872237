package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.etl.{Dedup, Sources}

class SourcesDedupSpec extends SparkSpec {
  import spark.implicits._

  test("S1 csvSkipping drops 6 preamble lines and 1 footer line") {
    val f = Files.createTempFile("report", ".csv")
    Files.writeString(f,
      """Report generated 2024-06-01
        |Company: Example
        |
        |Filters: none
        |Period: June
        |
        |name,amount
        |alice,1
        |bob,2
        |TOTALS,3
        |""".stripMargin)
    val df = Sources.csvSkipping(spark, f.toString, preamble = 6, footer = 1)
    assert(df.columns.toSeq == Seq("name", "amount"))
    assert(df.count() == 2)
    assert(df.agg(sum("amount")).collect()(0).getLong(0) == 3)
  }

  test("S1 csvSkipping refuses directories") {
    val d = Files.createTempDirectory("reports")
    intercept[IllegalArgumentException] {
      Sources.csvSkipping(spark, d.toString)
    }
  }

  test("P2 positional rename ignores header text") {
    val df = Seq((1, 2, 3)).toDF("a", "b", "c")
    val out = Sources.renamePositional(df, Map(1 -> "x", 5 -> "oob"))
    assert(out.columns.toSeq == Seq("a", "x", "c"))
  }

  test("conditional schema: first present candidate wins") {
    val df = Seq(1).toDF("Status ")
    val out = Sources.renameFirstPresent(df, Seq("Validated Status ", "Status "), "estado")
    assert(out.columns.toSeq == Seq("estado"))
  }

  test("P4 tolerant projection keeps order, skips absent") {
    val df = Seq((1, 2)).toDF("a", "b")
    assert(Sources.projectTolerant(df, Seq("b", "ghost", "a")).columns.toSeq == Seq("b", "a"))
  }

  test("J4 anti-join dedup: only new keys survive; within-batch dups preserved (quirk 4)") {
    val existing = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val incoming = Seq((2, "y"), (3, "z"), (3, "z")).toDF("k", "v") // 3 duplicated in-batch
    val out = Dedup.antiJoinNewNormalized(incoming, existing, Dedup.exactKeys("k")).collect()
    assert(out.length == 2) // both copies of key 3 insert — no in-batch dedup
    assert(out.forall(_.getInt(0) == 3))
  }

  test("J4 normalized anti-join: keys normalized on both sides, helper cols dropped") {
    val existing = Seq("  A  ").toDF("k")
    val incoming = Seq("a", "b").toDF("k")
    val out = Dedup.antiJoinNewNormalized(
      incoming, existing, Seq("k" -> (c => lower(trim(c)))))
    assert(out.columns.toSeq == Seq("k"))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("J4 self-target window form is null-exact: a null-key row never matches, so it survives") {
    // (k, tag, old): `old` rows are the already-loaded target. Null keys
    // in `old` rows must neither drop themselves nor their null group,
    // exactly as in the SQL anti-join; a blank tag normalizes to null.
    val df = Seq[(Integer, String, Boolean)](
      (null, "a", true), (null, "a", false), (1, null, true), (3, "  ", true),
      (1, "a", true), (1, "a", false), (2, "b", false), (2, "b", false),
      (2, "B ", true))
      .toDF("k", "tag", "old")
    val norm: Seq[(String, Column => Column)] =
      Seq("k" -> (c => c), "tag" -> (c => nullif(upper(trim(c)), lit(""))))
    def multiset(d: DataFrame) =
      d.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val window = Dedup.antiJoinSelfNormalized(df, col("old"), norm)
    val reference = Dedup.antiJoinNewNormalized(df, df.filter(col("old")), norm)
    assert(window.columns.toSeq == df.columns.toSeq)
    assert(multiset(window) == multiset(reference))
    assert(multiset(window) == multiset(Seq[(Integer, String, Boolean)](
      (null, "a", true), (null, "a", false), (1, null, true), (3, "  ", true))
      .toDF("k", "tag", "old")))
  }

  test("exact dedup keeps the smallest id per content group") {
    val df = Seq((5L, "same"), (1L, "same"), (9L, "other")).toDF("id", "t")
    val out = Dedup.exactDedup(df, Seq("t"), "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "same"), (9L, "other")))
  }

  /** A one-row parquet-mr file whose only column is an int64 `ts` of the
    * given logical type: no Spark schema rides in its footer, so Spark's
    * converter reads the type under the session conf. */
  private def rawTsFile(logical: String): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 ts ($logical); }")
    val dir = Files.createTempDirectory("graft-raw-ts")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("part-0.parquet").toUri))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", TsLayoutSpec.instantUs * 1000L))
    finally w.close()
    dir.toString
  }

  test("Sources.table reads the schema spark.read.parquet infers, from the footer alone") {
    val tables = new java.io.File(Sf).list().toSeq.filter(_.endsWith(".parquet")).sorted
      .map(_.stripSuffix(".parquet"))
    val orders = Sources.table(spark, Sf, "orders")
    val root = Files.createTempDirectory("graft-footer")
    // a Spark-written directory: _SUCCESS, .crc side files, three parts
    val written = root.resolve("written").toString
    orders.repartition(3).write.parquet(written)
    assert(new java.io.File(s"$written/_SUCCESS").exists())
    // a partitioned directory: string and inferred-int partition columns
    val parted = root.resolve("parted").toString
    orders.withColumn("bucket", col("o_orderkey") % 3)
      .write.partitionBy("o_orderstatus", "bucket").parquet(parted)
    // parquet summary files: the schema comes from `_common_metadata`
    val summarized = root.resolve("summarized").toString
    orders.repartition(2).write.option("parquet.summary.metadata.level", "ALL")
      .parquet(summarized)
    assert(new java.io.File(s"$summarized/_common_metadata").exists())
    val dirs = Seq(written, parted, summarized) ++ TsLayoutSpec.layoutDirs(spark)
    // TIMESTAMP(NANOS) reads only as a long, under the legacy conf
    val rawNanos = rawTsFile("TIMESTAMP(NANOS,true)")
    val rawNtz = rawTsFile("TIMESTAMP(MICROS,false)")
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.get(nanos)
    try for (asLong <- Seq(true, false)) {
      spark.conf.set(nanos, asLong.toString)
      for (t <- tables)
        assert(Sources.table(spark, Sf, t).schema ==
          spark.read.parquet(s"$Sf/$t.parquet").schema, s"$t nanosAsLong=$asLong")
      for (d <- (dirs :+ rawNtz) ++ Option.when(asLong)(rawNanos))
        assert(Sources.parquet(spark, d).schema == spark.read.parquet(d).schema,
          s"$d nanosAsLong=$asLong")
    } finally spark.conf.set(nanos, prior)
  }

  test("building a Sources.table frame launches no Spark job") {
    val runner = new tools.Profile.Runner(spark, "sources")
    try {
      val r = runner("table", 1) { Sources.table(spark, Sf, "orders").schema; () }
      assert(r.ok && r.jobs == 0, r.line)
    } finally runner.close()
  }
}
