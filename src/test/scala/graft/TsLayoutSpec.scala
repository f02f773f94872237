package graft

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Guards the events `ts` layout adaptivity (etl/Sources.normalizeTs,
  * streaming/EventStream.fileStream): the driver has shipped the column
  * as parquet TIMESTAMP(NANOS) (surfaced as a nanos long under the
  * legacy reader conf) AND as TIMESTAMP(MICROS) isAdjustedToUTC=false
  * (surfaced as TIMESTAMP_NTZ), switching formats mid-round once. A
  * future driver-side layout change must fail a test here, not a
  * correctness gate. */
class TsLayoutSpec extends SparkSpec {
  import TsLayoutSpec._

  test("Sources.events and EventStream.fileStream leave the session conf unchanged") {
    // the nanos reader conf ships in Session.confs; a loader that set it
    // would change it for every later query of the session
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.get(nanos)
    spark.conf.set(nanos, "false") // the sf0.001 events are micros: readable either way
    try {
      val before = spark.conf.getAll
      assert(etl.Sources.events(spark, Sf).count() > 0)
      assert(streaming.EventStream.fileStream(spark, s"$Sf/events.parquet").isStreaming)
      assert(spark.conf.getAll == before)
    } finally spark.conf.set(nanos, prior)
  }

  test("nanos-long and TIMESTAMP_NTZ parquet layouts normalize to the same instants") {
    val dirs = layoutDirs(spark)
    val normalized = dirs.map { d =>
      val df = etl.Sources.normalizeTs(spark.read.parquet(d))
      assert(df.schema("ts").dataType == TimestampType)
      df.select(unix_micros(col("ts"))).as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
    }
    assert(normalized.head == Rows.sorted)
    assert(normalized.head == normalized(1))
  }

  test("a long ts below the nanos range fails loudly instead of misscaling 1000x") {
    import scala.jdk.CollectionConverters._
    // micros-as-long magnitude (~1.7e15): the nanos assumption would be
    // silently wrong by 1000x — normalizeTs must throw, not misscale
    val microsAsLong = spark.createDataFrame(
      Seq(Row(instantUs)).asJava,
      StructType(Seq(StructField("ts", LongType))))
    val ex = intercept[Exception] {
      etl.Sources.normalizeTs(microsAsLong).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("nanos-since-epoch")), ex.toString)
  }

  test("fileStream starts on an empty directory (rawSchema fallback) and on a populated one") {
    val empty = Files.createTempDirectory("graft-ts-empty").toString
    val stream = streaming.EventStream.fileStream(spark, empty)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType == TimestampType)
    // populated path: probe picks up the real layout (sf0.001 events)
    val populated = streaming.EventStream.fileStream(spark, s"$Sf/events.parquet")
    assert(populated.isStreaming)
    assert(populated.schema("ts").dataType == TimestampType)
  }
}

object TsLayoutSpec {

  /** 2024-03-01T12:34:56.789012Z in micros since epoch. */
  val instantUs = 1709296496789012L
  val Rows = Seq(instantUs, instantUs + 1000000L, instantUs + 2500000L)

  /** [[Rows]] written as the two `ts` layouts, one Spark-written parquet
    * directory each: a raw nanos-since-epoch long (what the NANOS
    * physical type surfaces as under spark.sql.legacy.parquet.nanosAsLong)
    * and TIMESTAMP_NTZ (what MICROS isAdjustedToUTC=false surfaces as;
    * session TZ is pinned UTC so the instant is preserved). */
  def layoutDirs(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val nanosDf = spark.createDataFrame(
      Rows.map(us => Row(us * 1000L)).asJava,
      StructType(Seq(StructField("ts", LongType))))
    val ntzDf = spark.createDataFrame(
      Rows.map(us => Row(java.time.LocalDateTime.ofEpochSecond(
        us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC))).asJava,
      StructType(Seq(StructField("ts", TimestampNTZType))))
    Seq(nanosDf, ntzDf).map { df =>
      val dir = Files.createTempDirectory("graft-ts-layout").toString
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    }
  }
}
