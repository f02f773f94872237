package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, concat, floor, format_number, lit, lpad, round}
import org.apache.spark.sql.graftbridge.Bridge

/** Source layer — SURVEY.md §2.1.
  *
  * The harness substrate is the driver's Parquet tables
  * (/root/testdata/sf* — TESTDATA.md); the reference's CSV-with-preamble
  * scan (S1, cartera.py:68) is provided as a real text-pre-pass source for
  * raw report files.
  */
object Sources {

  /** Table `name` of an SF dir, `$sfDir/$name.parquet`, read by [[parquet]]. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** The program's one parquet reader. Columnar scan → Catalyst gets
    * pushdown + pruning for free; `.explain` must show PushedFilters /
    * ReadSchema.
    *
    * A bare `spark.read.parquet` infers the schema with a one-task Spark
    * job on every call. Here the schema comes from one footer read on the
    * driver and is handed to the reader, so building the frame launches
    * no job. The footer is picked by Spark's own rule
    * (`ParquetUtils.inferSchema` with mergeSchema off): `_common_metadata`,
    * then `_metadata`, then the first data file in path order, among the
    * files Spark's file index lists (hidden `_`/`.` names skipped). Spark's
    * own converter, built from the session conf, turns the footer into the
    * schema, so `nanosAsLong` ([[events]]), NTZ inference and
    * Spark-written schema metadata read exactly as `spark.read.parquet`
    * reads them. Partition columns still come from Spark's file index.
    *
    * With `spark.sql.parquet.mergeSchema` on, or when the path matches no
    * data file, this is plain `spark.read.parquet`, so Spark's own
    * behaviour and errors (a missing path, an empty directory) stay.
    * Nothing is kept between calls. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val hconf = spark.sessionState.newHadoopConf()
    val files = if (conf.isParquetSchemaMergingEnabled) Nil else leafFiles(hconf, path)
    val (summaries, data) = files.partition(f => Summaries.contains(f.getPath.getName))
    val schema = if (data.isEmpty) None else {
      val pick = Summaries.flatMap(n => summaries.find(_.getPath.getName == n))
        .headOption.getOrElse(data.head)
      Some(ParquetFileFormat.readSchemaFromFooter(
        new Footer(pick.getPath, footer(hconf, pick.getPath, rowGroups = false)),
        new ParquetToSparkSchemaConverter(conf)))
    }
    schema.fold(spark.read)(spark.read.schema(_)).parquet(path)
  }

  /** Parquet summary files, in the order Spark prefers their footer. */
  private val Summaries = Seq(
    ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)

  /** The leaf files a file-source scan of `path` lists, in path order. */
  private def leafFiles(hconf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => Bridge.skippedByFileIndex(c.getPath.getName)).flatMap(walk)
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(walk).sortBy(_.getPath.toString)
  }

  /** One parquet footer, read on the driver; the row-group list only when
    * asked for. */
  private def footer(hconf: Configuration, file: Path, rowGroups: Boolean): ParquetMetadata =
    ParquetFileReader.readFooter(hconf, file, if (rowGroups) NO_FILTER else SKIP_ROW_GROUPS)

  /** Scale-adaptive scan scatter (optimization guide §2.5 "input skew":
    * one huge unsplittable file → repartition immediately after the
    * read). The bench SF dirs ship each table as ONE small parquet file
    * (one row group), so a scan has one non-empty split — and the ETL
    * loads are otherwise shuffle-free broadcast enrichments, meaning
    * their entire per-row expression chain (string synthesis + parses +
    * cleaning) ran on ONE core of local[N] (r20 measurement: the same
    * chain is 3-4x faster once scattered; dq_profile_wide had applied
    * the same fix in r11). Hash-distributing on a provided key avoids
    * round-robin's sort-before-repartition pass; results are row-order
    * independent (every declared query is canon-sort-hashed).
    *
    * The decision compares the scan's width with the session's
    * parallelism ([[needScatter]]) and reads that width from the parquet
    * footers on the driver, without planning the scan: a parquet scan
    * has no more non-empty splits than row groups. Its planned partition
    * count is no measure — Spark splits a file by bytes, so one row group
    * can span several splits, all but one empty (sf0.1 lineitem on 4
    * cores: 3 splits of 0 / 600,000 / 0 rows). With at least half as many
    * files as the session's parallelism the scan is wide enough and no
    * footer is read, so at cluster scale — thousands of files — this is
    * a no-op and no extra exchange is paid. The count is an upper bound:
    * a file of many small row groups that Spark packs into fewer splits
    * reads as wide. `df` must read parquet files (every caller passes a
    * [[table]] scan); a frame over no files comes back untouched. */
  def scatter(spark: SparkSession, df: DataFrame, key: Column): DataFrame =
    scatter(spark, df, key, spark.sparkContext.defaultParallelism)

  /** [[scatter]] to `want` partitions, exposed for the spec (whose
    * 2-core session never fires the rule). */
  private[graft] def scatter(spark: SparkSession, df: DataFrame, key: Column, want: Int): DataFrame = {
    val files = df.inputFiles.map(f => new Path(new java.net.URI(f)))
      .filterNot(f => Summaries.contains(f.getName))
    def rowGroups = {
      val hconf = spark.sessionState.newHadoopConf()
      files.map(footer(hconf, _, rowGroups = true).getBlocks.size).sum
    }
    if (files.nonEmpty && needScatter(files.length, want) && needScatter(rowGroups, want))
      df.repartition(want, key)
    else df
  }

  /** The scatter decision, exposed for the spec: fire only when the
    * scan is under half the session's parallelism. */
  private[graft] def needScatter(parts: Int, want: Int): Boolean =
    parts * 2 < want

  /** The fixtures' report-style money string, `1,234.56`, from a
    * 2-decimal amount (no currency sign). The DuckDB oracles build the
    * same string with `EtlQueries.ddbMoney`; the two must stay in
    * lockstep. */
  def money(amount: Column): Column =
    concat(format_number(floor(amount).cast("long"), 0), lit("."),
      lpad(round((amount - floor(amount)) * 100).cast("long").cast("string"), 2, "0"))

  /** The fixtures' line row id, `l_orderkey * 8 + l_linenumber`, that
    * scatters the synthesized dirty cases deterministically. The DuckDB
    * oracles build the same id with `EtlQueries.ddbRid`; the two must
    * stay in lockstep. */
  def lineRid: Column = col("l_orderkey") * 8 + col("l_linenumber")

  /** `events` loader, adaptive to the two `ts` layouts the driver has
    * shipped: parquet TIMESTAMP(NANOS) (surfaced as a nanos long under
    * the legacy reader conf, which [[graft.Session]] ships for the whole
    * session — converted with integral DIV, not double
    * division: ~1.7e18 nanos exceeds a double's 2^53 exact range) and
    * plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (surfaced as
    * TIMESTAMP_NTZ — cast to the session type; the session timezone is
    * pinned UTC, so the instant is unchanged and downstream code plus
    * the DuckDB oracle, which always read the parquet timestamp
    * natively, see identical values either way). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "events"))

  /** Normalize an events frame's `ts` column to the session TimestampType
    * regardless of which raw layout it was read from (see [[events]]).
    *
    * A LongType `ts` is assumed to be NANOS since epoch (the only long
    * layout the driver has shipped, via TIMESTAMP(NANOS) + the legacy
    * reader conf). That assumption is guarded per row: modern-era nanos
    * are ~1.7e18 while micros-as-long (~1.7e15) or millis-as-long
    * (~1.7e12) are orders of magnitude below the 1e17 floor (≈ 1973 in
    * nanos), so a future re-layout fails loudly here instead of
    * silently misscaling every timestamp by 1000x. One long comparison
    * per row, inside codegen — noise against the parquet decode.
    *
    * Contract (by design, not accident): a long-layout events table may
    * not carry instants before ~1973-03 (1e17 ns) — such a value is
    * indistinguishable from a mis-scaled micros/millis layout, so the
    * scan rejects it rather than guess. Pre-1973 data must ship as a
    * typed TIMESTAMP column, which bypasses this guard entirely. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr(
          """timestamp_micros(CASE
            |  WHEN assert_true(ts IS NULL OR ts >= 100000000000000000,
            |    'Sources.normalizeTs: long ts below the nanos-since-epoch range — new layout?') IS NULL
            |  THEN ts DIV 1000 END)""".stripMargin))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** S1 — CSV scan skipping N preamble lines and M footer lines
    * (cartera.py:68, pending_orders.py:59: skiprows=6, skipfooter=1).
    *
    * Spark's CSV reader has no skiprows/skipfooter; we pre-pass the file
    * as text, drop the preamble/footer by global line index, and feed the
    * remaining lines to the CSV parser (header = first surviving line).
    *
    * Scale note: the footer drop needs the global line count, so this is
    * two passes over the text. Report files with preambles are per-file
    * small (daily exports, ≤ a few MB — BASELINE.md: 5k rows/day); for
    * 100 TB inputs the data arrives in footerless splittable formats and
    * goes through [[table]] instead.
    *
    * Limitations (documented, asserted): offsets are applied by GLOBAL
    * line index, so `path` must be a single report file — a directory or
    * glob of several files would leak interior preambles/footers into the
    * data. Quoted CSV fields containing newlines also break the line-based
    * pre-pass (the reference's engine='python' handles both per-file).
    */
  def csvSkipping(
      spark: SparkSession, path: String,
      preamble: Int = 6, footer: Int = 1): DataFrame = {
    import spark.implicits._
    // Hadoop FS check so file:/, hdfs://, s3:// paths are validated too
    // (a bare java.io.File test silently passes URI-style paths). Globs
    // don't resolve to a status and are the caller's responsibility.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!(fs.exists(hPath) && fs.getFileStatus(hPath).isDirectory),
      s"csvSkipping needs a single report file, got a directory: $path " +
        "(per-file preambles/footers would leak into the data)")
    val lines = spark.read.textFile(path).rdd.zipWithIndex()
    val n = lines.count()
    // fail at THIS boundary, not as an obscure downstream
    // schema-inference error: preamble+footer must leave at least the
    // header line (a zero-row export day still carries its header)
    require(n > preamble + footer,
      s"csvSkipping: $path has $n lines, not enough for preamble=" +
        s"$preamble + footer=$footer + a header line")
    val body = lines
      .filter { case (_, i) => i >= preamble && i < n - footer }
      .map(_._1)
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(spark.createDataset(body))
  }

  /** P1 — tolerant rename map (cartera.py:77-87 etc.): renames that
    * reference absent columns are ignored (`errors='ignore'` parity). */
  def renameTolerant(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }

  /** P2 — positional rename (wor2.py:256-262): column at index i renamed
    * regardless of its header text. */
  def renamePositional(df: DataFrame, byIndex: Map[Int, String]): DataFrame = {
    val names = df.columns.zipWithIndex.map { case (n, i) =>
      byIndex.getOrElse(i, n)
    }
    df.toDF(names.toIndexedSeq: _*)
  }

  /** P4 — tolerant final projection (pending_orders.py:151-155): keep
    * exactly `cols`, in order, skipping the ones the frame lacks. */
  def projectTolerant(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    df.select(present.map(df.col): _*)
  }

  /** Conditional schema handling (pending_orders.py:74-77): first present
    * candidate column becomes `target`. */
  def renameFirstPresent(df: DataFrame, candidates: Seq[String], target: String): DataFrame =
    candidates.find(df.columns.contains) match {
      case Some(c) => df.withColumnRenamed(c, target)
      case None => df
    }
}
