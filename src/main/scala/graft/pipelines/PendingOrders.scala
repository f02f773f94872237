package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Expressions => E, Sources}

/** Entry point 1b — the Pending_Orders snapshot load (pending_orders.py,
  * SURVEY.md §3). Adds to Cartera: temporal dimension derivation (D1-D6),
  * plain money / thousands-int parses (F5/F6), CHAR(n) truncation guards
  * (F7), and null defaults (F11/F11b).
  *
  * Harness substrate: `lineitem ⋈ orders` plays the pending-orders report
  * (one row per open order line), `part` supplies the class item,
  * `customer` is the `Clientes` dim. Messy shapes synthesized per
  * FIXTURES.md §1.2: thousands-separated quantities, >20-char document
  * numbers, an invalid date (→ 1900-01-01), null class items
  * (→ 'Descuento'), null statuses (→ 'Desconocido'), unmatched clients.
  */
object PendingOrders {

  def rawFact(spark: SparkSession, sfDir: String): DataFrame = {
    val rid = Sources.lineRid
    // Scatter the fact scan before the broadcast-join + string-synth
    // chain: with every dim broadcast there is no exchange anywhere in
    // this pipeline, so the whole per-row expression tree inherits the
    // scan's partitioning — one task on the single-file bench fixtures
    // (Sources.scatter scaladoc; no-op when the scan is already split).
    val li = Sources.scatter(spark,
      Sources.table(spark, sfDir, "lineitem"), col("l_orderkey"))
    val orders = Sources.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val cust = Sources.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val part = Sources.table(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_type"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(
        when(rid % 97 === 0, concat(lit("ghost buyer "), rid.cast("string")))
          .otherwise(concat(lit("  "), upper(col("c_name")), lit("!  ")))
          .as("Customer "),
        concat(lit("$"), Sources.money(col("l_extendedprice"))).as("Amount (Net) "),
        concat(lit("PO-"), lpad(col("l_orderkey").cast("string"), 10, "0"),
          lit("-"), col("l_linenumber").cast("string"), lit("-EXPORTED"))
          .as("Document Number "),
        when(rid % 111 === 0, lit("INVALID"))
          .otherwise(date_format(col("l_shipdate"), "M/d/yyyy")).as("Date "),
        when(col("l_partkey") % 53 === 0, lit(null: String))
          .otherwise(col("p_type")).as("Class Item "),
        format_number((col("l_quantity") * 1000).cast("long"), 0).as("Quantity "),
        when(rid % 59 === 0, lit(null: String))
          .otherwise(col("o_orderpriority")).as("Validated Status "))
  }

  /** The dim with a nullable zone (exercises F11b: null id_zone → 1). */
  def clientesDim(spark: SparkSession, sfDir: String): DataFrame =
    Sources.table(spark, sfDir, "customer")
      .select(
        col("c_custkey").cast("long").as("id_cliente"),
        nullif(col("c_nationkey").cast("long"), lit(0L)).as("id_zone"),
        E.cleanCustomerName(col("c_name")).as("nombre_cliente_cleaned"))

  def enriched(spark: SparkSession, sfDir: String): DataFrame = {
    val renamed = Sources.renameTolerant(
      Sources.renameFirstPresent(rawFact(spark, sfDir),
        Seq("Validated Status ", "Status "), "estado_raw"),
      Map(
        "Customer " -> "nombre_cliente",
        "Amount (Net) " -> "amount_raw",
        "Document Number " -> "document_number_raw",
        "Date " -> "fecha_raw",
        "Class Item " -> "class_item",
        "Quantity " -> "cantidad_raw"))
    renamed
      .withColumn("nombre_cliente_cleaned", E.cleanCustomerName(col("nombre_cliente")))
      .join(broadcast(clientesDim(spark, sfDir)), Seq("nombre_cliente_cleaned"), "left")
  }

  def load(spark: SparkSession, sfDir: String, loadDate: Option[String] = None): DataFrame = {
    val fecha = E.dateWithDefault(E.parseDateLenient(col("fecha_raw")))
    val base = enriched(spark, sfDir)
      .filter(col("id_cliente").isNotNull)
      .withColumn("fecha_d", fecha)
    val withDims = E.temporalDims(col("fecha_d"))
      .foldLeft(base) { case (df, (name, c)) => df.withColumn(name, c) }
    withDims.select(
      col("id_cliente"),
      na_class(col("class_item")).as("class_item"),
      E.parseIntThousands(col("cantidad_raw")).cast("long").as("cantidad"),
      E.parseMoney(col("amount_raw")).as("amount_net"),
      E.truncate(col("document_number_raw"), 20).as("document_number"),
      // Quirk decision (SURVEY §3 quirk 6): reference does astype(str)
      // BEFORE fillna, so null estado becomes the string 'nan' and its
      // fillna('Desconocido') is dead code (pending_orders.py:146-149).
      // We implement the documented intent — null → 'Desconocido'.
      E.truncateWithDefault(col("estado_raw"), 50, "Desconocido").as("estado"),
      E.formatDateIso(col("fecha_d")).as("fecha"),
      coalesce(col("id_zone"), lit(1L)).as("id_zone"),
      col("nombre_mes"),
      col("mes").cast("long").as("mes"),
      col("dia").cast("long").as("dia"),
      col("anio").cast("long").as("anio"),
      E.formatDateIso(E.loadStamp(loadDate)).as("fecha_carga"))
  }

  /** F11 — class_item null → 'Descuento' (pending_orders.py:80). */
  private def na_class(c: org.apache.spark.sql.Column) =
    coalesce(c, lit("Descuento"))

  def rejects(spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Lookups.rejects(enriched(spark, sfDir), "id_cliente", "nombre_cliente")
}
