package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.SparkEntry
import graft.etl.{Sinks, Sources, Xlsx}
import graft.pipelines.{Cartera, PendingOrders, VentasTotales, Wor}

/** One timed call sequence of a workload: `run` does the op's work on
  * `unit` (an input directory) and stamps sink rows with `stamp`. */
final case class Op(name: String, unit: String, stamp: Int, run: () => Unit)

/** The workloads' ops, built from the program's public entry points. */
final class Ops(spark: SparkSession, in: String, out: String, tr: Tracer) {

  private val LoadDate = "2024-06-01"
  private val Stamp = "load_stamp"

  /** Results of collecting ops, kept for the output checks. */
  val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Array[Row],
    org.apache.spark.sql.types.StructType)]

  private def sink(name: String): String = s"$out/sink/$name"

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def append(df: DataFrame, name: String, stamp: Int): Unit =
    tr.span("Sinks.appendSnapshotParquet") {
      Sinks.appendSnapshotParquet(df.withColumn(Stamp, lit(stamp)), sink(name), Stamp)
    }

  /** A load: in a traced run each public function of the pipeline runs
    * first to the noop sink, as prefixes of one another, so the self
    * time of each is its time minus the previous prefix's. A first
    * untimed-for-layers run of the whole load takes the cold-code cost,
    * which would otherwise land on whichever prefix runs first. */
  private def load(name: String, stamp: Int,
      prefixes: Seq[(String, () => DataFrame)]): Unit = {
    if (tr.on) {
      tr.span("warm-up", probe = true)(noop(prefixes.last._2()))
      prefixes.foreach { case (n, f) => tr.span(n, probe = true)(noop(f())) }
    }
    append(prefixes.last._2(), name, stamp)
  }

  private def collect(name: String, stamp: Int, df: () => DataFrame): Unit = {
    val (rows, schema) = tr.span(s"SparkEntry.queries") {
      val d = df(); (d.collect(), d.schema)
    }
    collected += ((name, stamp, rows, schema))
  }

  private val CarteraRenames = Map(
    "Zones for Financial Reporting " -> "zona_csv_original",
    "Customer:Project " -> "nombre_cliente", "Transaction Type " -> "tipo_transaccion",
    "Date " -> "fecha_facturacion_raw", "Document Number " -> "document_number",
    "Due Date " -> "fecha_pago_raw", "Open Balance " -> "open_balance_raw")
  private val PendingRenames = Map(
    "Customer " -> "nombre_cliente", "Amount (Net) " -> "amount_raw",
    "Document Number " -> "document_number_raw", "Date " -> "fecha_raw",
    "Class Item " -> "class_item", "Quantity " -> "cantidad_raw")

  /** A report lands with the reference's renames; the columns it drops
    * (P.O. No., Age) are dropped here too. */
  private def landCsv(name: String, path: String, stamp: Int,
      shape: DataFrame => DataFrame, keep: Seq[String]): Unit = {
    val raw = tr.span("Sources.csvSkipping")(Sources.csvSkipping(spark, path))
    append(Sources.projectTolerant(shape(raw), keep), name, stamp)
  }

  /** Column names of a workbook bucket, made parquet-safe by position. */
  private def landBucket(df: DataFrame, name: String, stamp: Int): Unit =
    append(df.toDF(df.columns.indices.map(i => s"c$i"): _*), name, stamp)

  def loadOps(unit: String, stamp: Int): Seq[Op] = {
    val dir = s"$in/$unit"
    def op(name: String)(body: => Unit) = Op(name, unit, stamp, () => body)
    Seq(
      op("cartera_csv")(landCsv("cartera_csv", s"$dir/cartera.csv", stamp,
        Sources.renameTolerant(_, CarteraRenames), CarteraRenames.values.toSeq.sorted)),
      op("pending_csv")(landCsv("pending_csv", s"$dir/pending_orders.csv", stamp,
        df => Sources.renameTolerant(Sources.renameFirstPresent(df,
          Seq("Validated Status ", "Status "), "estado_raw"), PendingRenames),
        (PendingRenames.values.toSeq :+ "estado_raw").sorted)),
      op("wor_workbook") {
        val glob = s"$dir/wor/*.xlsx"
        if (tr.on) tr.span("Xlsx.scanWorkbooks", probe = true)(
          noop(Xlsx.scanWorkbooks(spark, glob)))
        val (cat, fc) = tr.span("Wor.bucketsFromWorkbook")(
          Wor.bucketsFromWorkbook(spark, glob))
        landBucket(cat, "wor_category", stamp)
        landBucket(fc, "wor_forecast", stamp)
      },
      op("cartera_load")(load("cartera_load", stamp, Seq(
        "Cartera.rawFact" -> (() => Cartera.rawFact(spark, dir)),
        "Cartera.enriched" -> (() => Cartera.enriched(spark, dir)),
        "Cartera.load" -> (() => Cartera.load(spark, dir, Some(LoadDate)))))),
      op("pending_orders_load")(load("pending_orders_load", stamp, Seq(
        "PendingOrders.rawFact" -> (() => PendingOrders.rawFact(spark, dir)),
        "PendingOrders.enriched" -> (() => PendingOrders.enriched(spark, dir)),
        "PendingOrders.load" -> (() => PendingOrders.load(spark, dir, Some(LoadDate)))))),
      op("ventas_incremental")(load("ventas_incremental", stamp, Seq(
        "VentasTotales.rawFile" -> (() => VentasTotales.rawFile(spark, dir)),
        "VentasTotales.prepared" -> (() => VentasTotales.prepared(spark, dir)),
        "VentasTotales.load" -> (() => VentasTotales.load(spark, dir))))),
      op("wor_forecast_load")(load("wor_forecast_load", stamp, Seq(
        "Wor.forecastPrepared" -> (() => Wor.forecastPrepared(spark, dir)),
        "Wor.forecastAllRows" -> (() => Wor.forecastAllRows(spark, dir)),
        "Wor.forecastLoad" -> (() => Wor.forecastLoad(spark, dir))))),
      op("wor_cuotas_categoria_load")(load("wor_cuotas_categoria_load", stamp, Seq(
        "Wor.categoryPrepared" -> (() => Wor.categoryPrepared(spark, dir)),
        "Wor.cuotasCategoriaLoad" -> (() => Wor.cuotasCategoriaLoad(spark, dir))))),
      op("cartera_rejects")(collect("cartera_rejects", stamp,
        () => SparkEntry.queries("cartera_rejects")(spark, dir))),
      op("pending_rejects")(collect("pending_rejects", stamp,
        () => SparkEntry.queries("pending_rejects")(spark, dir))),
      op("ventas_dq_nonnumeric")(collect("ventas_dq_nonnumeric", stamp,
        () => SparkEntry.queries("ventas_dq_nonnumeric")(spark, dir))))
  }

  def dedupOps(unit: String, names: Seq[String], stamp: Int): Seq[Op] = {
    val dir = s"$in/$unit"
    names.map { q =>
      Op(q, unit, stamp, () => {
        val (rows, schema) = tr.span(s"DedupQueries.$q") {
          val d = SparkEntry.queries(q)(spark, dir); (d.collect(), d.schema)
        }
        collected += ((q, stamp, rows, schema))
      })
    }
  }

  /** Load accounting of one input unit, counted from the pipelines'
    * public stages (untimed, after the window): rows read, rows the
    * dimension lookup rejected, rows the anti-join dropped, rows loaded. */
  def accounting(unit: String): Seq[(String, Map[String, Long])] = {
    val dir = s"$in/$unit"
    import org.apache.spark.sql.functions.col
    def acc(read: Long, matched: Long, inserted: Long) = Map(
      "read" -> read, "rejected" -> (read - matched),
      "deduplicated" -> (matched - inserted), "inserted" -> inserted)
    Seq(
      "cartera" -> acc(Cartera.rawFact(spark, dir).count(),
        Cartera.enriched(spark, dir).filter(col("id_cliente").isNotNull).count(),
        Cartera.load(spark, dir, Some(LoadDate)).count()),
      "pending_orders" -> acc(PendingOrders.rawFact(spark, dir).count(),
        PendingOrders.enriched(spark, dir).filter(col("id_cliente").isNotNull).count(),
        PendingOrders.load(spark, dir, Some(LoadDate)).count()),
      "ventas" -> acc(VentasTotales.rawFile(spark, dir).count(),
        VentasTotales.prepared(spark, dir).count(),
        VentasTotales.load(spark, dir).count()),
      "wor_forecast" -> acc(Wor.forecastPrepared(spark, dir).count(),
        Wor.forecastAllRows(spark, dir).count(),
        Wor.forecastLoad(spark, dir).count()))
  }
}
