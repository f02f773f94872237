package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Dedup, Expressions => E, Sources}

/** Entry point 2 — the Ventas_Totales incremental load with anti-join
  * dedup vs the target (ventas_totales.py, SURVEY.md §3).
  *
  * Capability surface: strict-format date parse (D2), light name
  * normalization (F2), dict-map lookup join (J2), non-numeric amount
  * diagnostic (A2), and the J4 anti-join with per-key normalization on
  * both sides. Within-batch duplicates are preserved (§3 quirk 4): the
  * synthesized file carries a duplicated row subset, and both copies
  * load.
  *
  * Harness model of "incremental": rows shipped before [[Cutoff]] are
  * already in the target (loaded by a prior run); the incoming file
  * carries everything. The anti-join must insert exactly the
  * on-or-after-cutoff rows, twice for the duplicated subset.
  */
object VentasTotales {

  val Cutoff = "2000-01-01"

  /** The raw sales file (S2/S3): one row per order line, messy. */
  def rawFile(spark: SparkSession, sfDir: String): DataFrame = {
    val rid = Sources.lineRid
    // Scatter the single-file fact scan before the broadcast-enrichment
    // + string-synth chain (see Sources.scatter; no-op on a split scan).
    val li = Sources.scatter(spark,
      Sources.table(spark, sfDir, "lineitem"), col("l_orderkey"))
    val orders = Sources.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Sources.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val part = Sources.table(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
    val base = li
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(
        when(rid % 97 === 0, concat(lit("ghost shopper "), rid.cast("string")))
          .otherwise(concat(lit("  "), col("c_name"), lit("  ")))
          .as("Company Name"),
        date_format(col("l_shipdate"), "M/d/yyyy").as("Date"),
        col("l_orderkey").cast("string").as("Document Number"),
        col("l_returnflag").as("Type"),
        col("p_name").as("Item"),
        concat(col("p_name"), lit(" "), col("p_brand")).as("Description"),
        col("p_type").as("Class"),
        col("l_quantity").as("Quantity"),
        lit("EA").as("UOM"),
        when(rid % 113 === 0, lit("n/a"))
          .otherwise(concat(lit("$"), Sources.money(col("l_extendedprice"))))
          .as("Amount"),
        concat(lit("Sales Order #"), col("l_orderkey").cast("string"))
          .as("Created From"),
        lit("Closed").as("Status"),
        col("l_shipdate").as("__ship"),
        rid.as("__rid"))
    // Within-batch duplicate subset (§3 quirk 4): rows with __rid%131==0
    // appear twice in the file and BOTH must insert — no dropDuplicates
    // anywhere. Multiplicity via explode, NOT base.unionAll(base.filter):
    // the self-union form executes the whole 4-table join tree twice, and
    // this subtree is itself evaluated on both sides of the incremental
    // anti-join — 4 full join passes per query. explode(array_repeat)
    // replicates at the row level in the same pass; same output multiset.
    base
      .withColumn("__copy", explode(array_repeat(lit(1),
        when(col("__rid") % 131 === 0, 2).otherwise(1))))
      .drop("__copy")
  }

  /** The renamed file before any client mapping — the population the
    * reference's A2 diagnostic runs on (ventas_totales.py:121-128: drop
    * Status, rename, THEN count non-numeric amounts). */
  def renamedFile(spark: SparkSession, sfDir: String): DataFrame =
    Sources.renameTolerant(
      rawFile(spark, sfDir).drop("Status"),
      Map(
        "Company Name" -> "nombre_cliente",
        "Date" -> "fecha_raw",
        "Document Number" -> "document_number",
        "Type" -> "tipo",
        "Item" -> "item",
        "Description" -> "descripcion",
        "Class" -> "clase",
        "Quantity" -> "cantidad_producto",
        "UOM" -> "presentacion",
        "Amount" -> "amount_raw",
        "Created From" -> "created_from"))

  /** Rename + parse + dict-lookup enrichment (the file → insertable rows). */
  def prepared(spark: SparkSession, sfDir: String): DataFrame = {
    val renamed = renamedFile(spark, sfDir)
    // J2 dict-map lookup: lower+trim both sides (F2); duplicate dim names
    // are last-write-wins in pandas — dim names are unique here, and
    // Lookups.enrichFromDim encodes the tie-break for the general case.
    val dim = Sources.table(spark, sfDir, "customer")
      .select(
        col("c_custkey").cast("long").as("id_cliente"),
        E.normLower(col("c_name")).as("nombre_lower"))
    renamed
      .withColumn("nombre_lower", E.normLower(col("nombre_cliente")))
      .join(broadcast(dim), Seq("nombre_lower"), "left")
      .filter(col("id_cliente").isNotNull)
      .withColumn("fecha", E.parseDateStrict(col("fecha_raw")))
      .withColumn("amount", E.parseMoneyNullable(col("amount_raw")))
  }

  /** A2 — data-quality diagnostic: count of non-numeric Amount values
    * (ventas_totales.py:124-128).
    *
    * Deliberate population difference vs the reference: the count here is
    * over [[prepared]] (after the id_cliente inner-join filter, including
    * the within-batch duplicate union, excluding null raws); the reference
    * computes it on the full renamed file before client mapping and counts
    * genuinely-null amounts as non-numeric. The oracle encodes the same
    * population, so the check stays consistent —
    * [[nonNumericAmountCountPrefilter]] is the reference-population
    * variant. */
  def nonNumericAmountCount(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)
      .agg(sum(when(col("amount").isNull && col("amount_raw").isNotNull, 1L)
        .otherwise(0L)).as("non_numeric_amounts"))

  /** A2, reference population (ventas_totales.py:124-128 exactly): the
    * diagnostic over the FULL renamed file — before the client mapping
    * and its inner-join filter — counting genuinely-null raws as
    * non-numeric (pandas `to_numeric(errors='coerce').isna().sum()`).
    * Kept alongside [[nonNumericAmountCount]] (the post-filter variant
    * measuring quality of what actually loads). */
  def nonNumericAmountCountPrefilter(spark: SparkSession, sfDir: String): DataFrame =
    renamedFile(spark, sfDir)
      .agg(sum(when(E.parseMoneyNullable(col("amount_raw")).isNull, 1L)
        .otherwise(0L)).as("non_numeric_amounts"))

  /** J4 key (ventas_totales.py:169) and its normalization, applied to
    * BOTH sides of the dedup (ventas_totales.py:186-203). Single source of
    * truth — load and rerun must stay in lockstep. */
  private[graft] val DedupNormalization: Seq[(String, Column => Column)] = Seq(
    "id_cliente" -> (_.cast("long")),
    "fecha" -> (c => date_trunc("day", c).cast("date")),
    "document_number" -> (c => trim(c.cast("string"))),
    "item" -> (c => trim(c.cast("string"))))

  /** The destination-table projection (Ventas_Totales columns). */
  private[graft] def toTargetColumns(df: DataFrame): DataFrame =
    df.select(
      col("id_cliente"),
      E.formatDateIso(col("fecha")).as("fecha"),
      col("document_number"),
      col("tipo"),
      col("item"),
      col("descripcion"),
      col("clase"),
      col("cantidad_producto"),
      col("presentacion"),
      col("amount"),
      col("created_from"))

  /** The incremental load: J4 dedup with key normalization on both
    * sides (ventas_totales.py:186-209). The target is a slice of
    * [[prepared]], so the one-pass window form derives it once, with no
    * cache (measured at sf0.1, recomputing the columnar scan+joins is
    * ~4x cheaper than persisting 1.2M wide cached rows). */
  def load(spark: SparkSession, sfDir: String): DataFrame =
    toTargetColumns(
      Dedup.antiJoinSelfNormalized(
        prepared(spark, sfDir),
        col("__ship") < to_date(lit(Cutoff)),
        DedupNormalization))

  /** Re-run recovery scenario (Ventas PDF §9 "Escenario de Recuperación"):
    * processing the same file against a target that already holds every
    * key inserts zero rows. */
  def rerun(spark: SparkSession, sfDir: String): DataFrame = {
    // The prepared subtree is recomputed rather than persisted —
    // re-A/B'd under round-8 full-sweep conditions after the
    // round-7 driver sweep measured this query at 63 s: with the
    // status-store retention leak fixed (see Session.scala), recompute
    // runs 4.7 s in-sweep vs 11.1 s for the persisted variant (cache
    // materialization of 1.2M wide rows + broken codegen fusion). The
    // round-7 blowup was heap pressure from the leak, not this shape.
    toTargetColumns(
      Dedup.antiJoinSelfNormalized(
        prepared(spark, sfDir), lit(true), DedupNormalization))
  }
}
