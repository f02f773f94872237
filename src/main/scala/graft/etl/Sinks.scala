package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Warehouse boundary — SURVEY.md §2.1 S7/S8.
  *
  * The reference's sink is a batched transactional `to_sql` append into
  * SQL Server (cartera.py:182-196: BATCH_SIZE=1000, one transaction,
  * rollback + row localization on error). Spark's JDBC writer expresses
  * the same shape: `batchsize` rows per INSERT round-trip, one
  * transaction per partition task. The reference's error handling —
  * rollback plus "which source row failed" localization — is
  * [[appendJdbcCaptureRejects]]: batch-first insert with per-row retry
  * of a failed batch, rejected rows captured with their database error.
  *
  * JDBC driver availability (probed, round 3): /opt/spark/jars ships
  * Apache Derby (derby/derbytools 10.16, Hive-metastore baggage), whose
  * embedded driver works in-JVM — `SinksJdbcSpec` round-trips probe,
  * appendBatchedJdbc, and the reject capture against a real database.
  * No server-style driver (SQL Server/Postgres) ships, so the reference's
  * exact wire target stays unexercised; the code path is identical
  * modulo the URL.
  *
  * SQL Server dialect assumptions (stated, not exercised): target
  * tables pre-exist with their own IDENTITY columns (the reference
  * appends and never writes the id — mirror that by EXCLUDING identity
  * columns from the frame); Spark's MsSqlServerDialect maps
  * TimestampType→DATETIME2 and StringType→NVARCHAR(max), so DATE-typed
  * business columns should be cast explicitly before the write; and
  * `batchsize` rides JDBC addBatch — with SQL Server's driver,
  * `sendStringParametersAsUnicode=false` in the URL is the standard
  * knob when the target columns are VARCHAR, or every batch pays a
  * per-row implicit conversion.
  */
object Sinks {

  /** S7 — connection validation probe (`SELECT 1` round-trip,
    * cartera.py:45-46). On the harness: a trivial local query; over JDBC:
    * pass `Some(url -> props)` to round-trip the probe remotely.
    * Derby note: Derby rejects bare `SELECT 1` subqueries without FROM,
    * so the probe uses SYSIBM.SYSDUMMY1 when the URL is a Derby one. */
  def probe(spark: SparkSession,
            jdbc: Option[(String, java.util.Properties)] = None): Boolean =
    jdbc match {
      case None => spark.sql("SELECT 1").collect()(0).getInt(0) == 1
      case Some((url, props)) =>
        val probeTable =
          if (url.startsWith("jdbc:derby"))
            "(SELECT 1 AS probe_val FROM SYSIBM.SYSDUMMY1) AS probe"
          else "(SELECT 1 AS probe_val) AS probe"
        spark.read.jdbc(url, probeTable, props).collect().length == 1
    }

  /** S8 — batched append to a warehouse table (`to_sql if_exists='append'`
    * in 1000-row batches). Partition-parallel on a cluster: each task
    * holds one connection and its own transaction. */
  def appendBatchedJdbc(
      df: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 1000): Unit =
    df.write
      .mode("append")
      .option("batchsize", batchSize)
      .jdbc(url, table, props)

  /** S8 + insert-error localization (cartera.py:185-196): append `df`
    * over JDBC, capturing rows the database rejects instead of failing
    * the whole load. Each partition opens one connection and inserts in
    * `batchSize`-row transactions; a batch the database refuses is
    * rolled back and retried row-by-row, so each bad row is isolated
    * and returned with its database error — the distributed analogue of
    * the reference's rollback + approximate source-row bookkeeping
    * (`i+1+6`), except the localization is exact.
    *
    * Returns the rejected rows (original columns + `__error`). The
    * returned frame is LAZY: the inserts execute when it is acted on —
    * materialize it exactly once (e.g. write it to a rejects parquet,
    * the harness pattern) and do not re-evaluate. Good rows stay
    * committed batch-by-batch; a task retry would re-attempt its whole
    * partition, so pair this with an idempotent key or a staging table
    * when exactly-once matters.
    */
  def appendJdbcCaptureRejects(
      df: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    val cols = schema.fieldNames.toSeq
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val rejectSchema = StructType(schema.fields :+
      StructField("__error", StringType, nullable = true))
    val nCols = cols.length
    val rejects = df.rdd.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val conn = java.sql.DriverManager.getConnection(url, props)
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(insertSql)
          def bind(r: Row): Unit = {
            var i = 0
            while (i < nCols) { ps.setObject(i + 1, r.get(i)); i += 1 }
          }
          rows.grouped(batchSize).foreach { batch =>
            try {
              batch.foreach { r => bind(r); ps.addBatch() }
              ps.executeBatch()
              conn.commit()
            } catch {
              case _: java.sql.SQLException =>
                conn.rollback()
                // The JDBC spec leaves post-failure batch state
                // driver-defined (Derby clears it, others may not):
                // clear explicitly or the next executeBatch would
                // replay any rows still queued — double inserts.
                ps.clearBatch()
                // Localize: retry the failed batch one row at a time.
                batch.foreach { r =>
                  try { bind(r); ps.executeUpdate(); conn.commit() }
                  catch {
                    case e: java.sql.SQLException =>
                      conn.rollback()
                      out += Row.fromSeq(r.toSeq :+ e.getMessage)
                  }
                }
            }
          }
          ps.close()
        } finally conn.close()
        out.iterator
      }
    }
    spark.createDataFrame(rejects, rejectSchema)
  }

  /** Harness sink: snapshot-partitioned parquet append — the offline
    * stand-in for the warehouse table. Partitioning by the load-stamp
    * column makes the documented latest-snapshot queries (A5/W1)
    * partition-pruned instead of full scans. */
  def appendSnapshotParquet(df: DataFrame, path: String, stampCol: String): Unit =
    df.write
      .mode("append")
      .partitionBy(stampCol)
      .parquet(path)

  /** Small-files compaction: rewrite a directory of parquet files into
    * ~`targetBytes`-sized outputs. Incremental snapshot appends (and any
    * fine-grained streaming sink) accumulate thousands of small files,
    * and at 100 TB the per-file open/footer overhead dominates scans —
    * the classic small-files problem. Partition count derives from the
    * actual on-disk byte size (never a row-count guess); `coalesce`
    * avoids a shuffle when shrinking, `repartition` rebalances when the
    * input is skewed into fewer-but-lopsided files. Returns the chosen
    * output file count. */
  def compactParquet(
      spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      rebalance: Boolean = false): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    // spark.read is lazy: mode("overwrite") deletes the target BEFORE the
    // input is fully read, so out == in (or nested either way) would
    // destroy the data mid-compaction. In-place compaction must stage to
    // a sibling temp dir and swap; this utility refuses the overlap.
    val inQ = fs.makeQualified(new org.apache.hadoop.fs.Path(inPath))
    val outQ = fs.makeQualified(new org.apache.hadoop.fs.Path(outPath))
    def contains(a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path): Boolean = {
      var p: org.apache.hadoop.fs.Path = b
      while (p != null && p != a) p = p.getParent
      p != null
    }
    require(!contains(inQ, outQ) && !contains(outQ, inQ),
      s"compactParquet: outPath $outQ overlaps inPath $inQ — " +
        "overwrite would delete the source files mid-read")
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = Sources.parquet(spark, inPath)
    val sized = if (rebalance) df.repartition(n) else df.coalesce(n)
    sized.write.mode("overwrite").parquet(outPath)
    n
  }

  /** Bucketed managed table: pre-shuffles once at write time so repeated
    * large joins/aggregations on `keys` are exchange-free at read time —
    * the co-located-join strategy for fact⋈fact at 100 TB (broadcast
    * covers fact⋈dim; bucketing covers what broadcast can't). Both join
    * sides must agree on bucket count and keys. */
  def writeBucketed(
      df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
