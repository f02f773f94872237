package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Expressions => E, Lookups, Sources}

/** Entry point 1 — the Cartera snapshot load (cartera.py, SURVEY.md §3).
  *
  * Dataflow: messy CSV-shaped fact → rename (P1) → e-commerce rules (F9)
  * → 'Sin Nombre' (F8) → clean names (F1) → broadcast dim join (J1) →
  * zone fallback → accounting money parse (F4) → reject unmatched (P6) →
  * date parse/format (D1/D4) → load-date stamp (D7).
  *
  * Harness substrate (FIXTURES.md §3): `orders` plays the daily cartera
  * report, `customer` plays the `Clientes` dimension. [[rawFact]]
  * synthesizes the report's messy string shapes (accounting-format money,
  * `M/d/yyyy` dates, dirty customer names, e-commerce rows, unmatched
  * clients) deterministically in-query so the DuckDB oracle can reproduce
  * them exactly.
  */
object Cartera {

  /** The messy report the reference would read from CSV (S1). Every
    * dirty shape from FIXTURES.md §1.1 is synthesized deterministically
    * from order keys:
    *  - %101 / %103 → the two e-commerce rule rows (cartera.py:101-108)
    *  - %97        → the `'- no customer/project -'` literal (F8)
    *  - %89        → a client absent from the dim (reject path, A1/P6)
    *  - %113       → an unparseable balance (→ 0.0, F4)
    *  - status 'F' → accounting-format negative `($1,234.56)`
    */
  def rawFact(spark: SparkSession, sfDir: String): DataFrame = {
    // Scatter the single-file fact scan before the broadcast-enrichment
    // + string-synth chain (see Sources.scatter; no-op on a split scan).
    val orders = Sources.scatter(spark,
      Sources.table(spark, sfDir, "orders"), col("o_orderkey"))
    val cust = Sources.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val money = Sources.money(col("o_totalprice"))
    orders
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .select(
        when(col("o_orderkey") % 101 === 0, lit("Walmart"))
          .when(col("o_orderkey") % 103 === 0, lit("Amazon"))
          .otherwise(concat(lit("NATION_"), col("c_nationkey").cast("string")))
          .as("zona_csv_original"),
        when(col("o_orderkey") % 101 === 0 || col("o_orderkey") % 103 === 0,
          lit("Ecommerce"))
          .when(col("o_orderkey") % 97 === 0, lit("- no customer/project -"))
          .when(col("o_orderkey") % 89 === 0,
            concat(lit("ghost client "), col("o_orderkey").cast("string")))
          .otherwise(concat(lit("  "), upper(col("c_name")), lit("!  ")))
          .as("nombre_cliente"),
        col("o_orderpriority").as("tipo_transaccion"),
        date_format(col("o_orderdate"), "M/d/yyyy").as("fecha_facturacion_raw"),
        col("o_orderkey").cast("string").as("document_number"),
        date_format(date_add(col("o_orderdate"), 30), "M/d/yyyy").as("fecha_pago_raw"),
        when(col("o_orderkey") % 113 === 0, lit("N/A"))
          .when(col("o_orderstatus") === "F", concat(lit("($"), money, lit(")")))
          .otherwise(concat(lit("$"), money))
          .as("open_balance_raw"))
  }

  /** The `Clientes` dimension (S5) with the pre-cleaned lookup key the
    * reference computes on the dim side (cartera.py:118-119). */
  def clientesDim(spark: SparkSession, sfDir: String): DataFrame =
    Sources.table(spark, sfDir, "customer")
      .select(
        col("c_custkey").cast("long").as("id_cliente"),
        col("c_nationkey").cast("long").as("id_zone"),
        E.cleanCustomerName(col("c_name")).as("nombre_cliente_cleaned"))

  /** Fact after rules + cleaning + dim enrichment, before the P6 reject
    * filter — shared by [[load]] and [[rejects]]. */
  def enriched(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawFact(spark, sfDir)
    val (zona, cliente) = E.conditionalRewrite(
      col("zona_csv_original"), col("nombre_cliente"), E.EcommerceRules)
    val ruled = raw
      .withColumn("zona_r", zona)
      .withColumn("cliente_r", E.replaceLiteral(cliente,
        "- no customer/project -", "Sin Nombre"))
      .withColumn("nombre_cliente_cleaned", E.cleanCustomerName(col("cliente_r")))
    ruled.join(
      broadcast(clientesDim(spark, sfDir)),
      Seq("nombre_cliente_cleaned"), "left")
  }

  /** The full snapshot load. `loadDate` pins D7 for oracle determinism;
    * production default is the run date.
    *
    * id_zone fallback (SURVEY §3 quirk 7): the reference fills a failed
    * lookup with the raw zona STRING (cartera.py:125 — mixed-type column);
    * here the numeric id is regex-extracted from the harness zone format
    * `NATION_(\d+)`, and any other unmatched zone yields null. When real
    * zone strings arrive, keep the raw zona in a separate column instead. */
  def load(spark: SparkSession, sfDir: String, loadDate: Option[String] = None): DataFrame = {
    enriched(spark, sfDir)
      .withColumn("id_zone",
        coalesce(col("id_zone"),
          regexp_extract(col("zona_r"), "NATION_(\\d+)", 1).try_cast("long")))
      .withColumn("open_balance", E.parseMoneyAccounting(col("open_balance_raw")))
      .filter(col("id_cliente").isNotNull)
      .select(
        col("id_cliente"),
        col("id_zone"),
        col("tipo_transaccion"),
        E.formatDateIso(E.parseDateLenient(col("fecha_facturacion_raw")))
          .as("fecha_facturacion"),
        col("document_number"),
        E.formatDateIso(E.parseDateLenient(col("fecha_pago_raw"))).as("fecha_pago"),
        col("open_balance"),
        E.formatDateIso(E.loadStamp(loadDate)).as("fecha_carga"))
  }

  /** A1 — distinct unmatched client names (cartera.py:126-128). */
  def rejects(spark: SparkSession, sfDir: String): DataFrame =
    Lookups.rejects(enriched(spark, sfDir), "id_cliente", "cliente_r")
      .withColumnRenamed("cliente_r", "nombre_cliente")
}
