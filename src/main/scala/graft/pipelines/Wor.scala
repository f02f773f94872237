package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl.{Dedup, Expressions => E, Lookups, Sources}

/** Entry point 3 — the WOR multi-table workbook load (wor2.py, SURVEY.md
  * §3). One Excel workbook carries a family of named tables
  * `Avancedeventa_Category_{zona}_{mes}` / `Forecast_{zona}_{mes}`
  * (zona ∈ Zone1-6|KamEast|KamCentral, mes ∈ Spanish months); the job
  * classifies them by name, stamps (nombre_mes, mes, año) parsed from the
  * table name (D8/D9/F10), cleans each bucket (P2/P8/P9/P7/F12), unions
  * per bucket (A3), and fans out into three warehouse loads with
  * per-table J5 anti-join dedup.
  *
  * Harness substrate (FIXTURES.md §1.4): no Excel offline, so the
  * workbook is modeled as ONE DataFrame per bucket with `table_name` +
  * `row_idx` columns — `row_idx` makes the reference's positional rules
  * ("row 0 is the zone-quota row", wor2.py:268) deterministic instead of
  * relying on file order (SURVEY §7.3). Table contents are synthesized
  * deterministically from the driver testdata so the DuckDB oracle can
  * reproduce them exactly.
  *
  * Preserved quirks (SURVEY §3):
  *  - quirk 1: the zone-quotas bucket is never populated → the
  *    Cuota_forecast load is a dead path ([[zoneQuotasLoad]] is empty);
  *  - quirk 2: Proyeccion_Vendedor tables are extracted but match no
  *    classification bucket → silently dropped (not synthesized here —
  *    they never reach a load);
  *  - quirk 3: ingest_cuota_forecast_data exists but its call is
  *    commented out (wor2.py:469) — not rebuilt.
  */
object Wor {

  /** Reference: año_actual = datetime.now().year (wor2.py:78); pinned for
    * oracle determinism. */
  val WorYear = 2026

  /** Months already loaded into every WOR target by a prior run — the J5
    * anti-join must insert exactly the rows with mes > this. */
  val LoadedThroughMonth = 6

  /** Table-name zona tokens, in the regex alternation order of
    * wor2.py:104-108 (Zone[1-6]|KamEast|KamCentral). Index = o_custkey%8. */
  val ZonaTokens: Seq[String] = Seq(
    "Zone1", "Zone2", "Zone3", "Zone4", "Zone5", "Zone6",
    "KamEast", "KamCentral")

  /** Spanish month names indexed 1..12 (wor2.py:65-76). */
  val MesesEs: Seq[String] = Seq(
    "Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio", "Julio",
    "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre")

  /** Category-row product names, index = o_orderkey%13: idx 1..11 are the
    * 11 PRODUCTO_MAPPING names (wor2.py:36-48); idx 0 ('Total', a summary
    * row) and idx 12 (an unknown product) exercise the reject path of the
    * static-map lookup (J3 + P6). */
  val ProductNames: Seq[String] =
    "Total" +: Lookups.ProductoMapping.toSeq.sortBy(_._2).map(_._1) :+ "Mystery Pop"

  private def arrayLit(xs: Seq[String]): Column = array(xs.map(lit): _*)

  /** Source-position headers of the two bucket families (wor2.py:
    * 256-262 category / 294-297 forecast) — what [[bucketsFromWorkbook]]
    * maps table cells onto and the cleans rename from. */
  val CategoryHeaders: Seq[String] =
    Seq("Negocio.", "Avance $", "Avance Vol", "Vta $", "Vta Vol")
  val ForecastHeaders: Seq[String] =
    Seq("ZONA/CLIENTE", "WEEK 1", "WEEK 2", "WEEK 3", "WEEK 4", "WEEK 5",
      "TOTAL", "Py %")

  /** Real-workbook front door (S3/S4): scan `.xlsx` file(s) at `path`
    * (glob ok — parse runs per-workbook on executors), classify every
    * named table (wor2.py:104-155), and shape the two buckets for
    * [[categoryClean]] / [[forecastClean]]. This is the composition a
    * reference user switches to: workbook in, cleaned bucket frames
    * out, then the same loads/dedups as the fixture path. */
  def bucketsFromWorkbook(
      spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    // both buckets filter the same scan: persist it or every workbook is
    // unzipped and XML-parsed once per bucket
    val scan = graft.etl.Xlsx.scanWorkbooks(spark, path)
      .withColumn("bucket", classifyTable(col("table_name")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val category = graft.etl.Xlsx.bucketDF(
      scan.filter(col("bucket") === "category"), CategoryHeaders)
    val forecast = graft.etl.Xlsx.bucketDF(
      scan.filter(col("bucket") === "forecast"), ForecastHeaders)
    (category, forecast)
  }

  /** S4 classification (wor2.py:104-155): a table name matching one of
    * the three patterns lands in the 'category' or 'forecast' bucket —
    * `Proyeccion_Vendedor` tables match the extraction regex but neither
    * classification substring, so they are silently dropped (SURVEY §3
    * quirk 2). Null = not classified. */
  def classifyTable(tableName: Column): Column = {
    val months = MesesEs.mkString("|")
    val pattern = s"(?i)^(Avancedeventa_Category|Proyeccion_Vendedor|Forecast)_" +
      s"(Zone[1-6]|KamEast|KamCentral)_($months)$$"
    val matches = regexp_extract(tableName, pattern, 1) =!= ""
    when(matches && tableName.contains("Avancedeventa_Category"), lit("category"))
      .when(matches && tableName.contains("Forecast"), lit("forecast"))
      .otherwise(lit(null: String))
  }

  // ------------------------------------------------------------- fixtures

  /** The category named-table family, as extracted from the workbook
    * (S4): data columns in source position 0..4 (positions 3/4 carry the
    * money/volume quotas — the P2 positional rename targets), then the
    * harness metadata (table_name, row_idx). Rows are per-(zona, mes,
    * producto) aggregates of `orders`. */
  def categoryTables(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Sources.table(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    orders
      .groupBy(
        (col("o_custkey") % 8).cast("int").as("zone_idx"),
        month(col("o_orderdate")).as("mes_num"),
        (col("o_orderkey") % 13).cast("int").as("prod_idx"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("vta_d"),
        count(lit(1)).as("vta_v"))
      .select(
        element_at(arrayLit(ProductNames), col("prod_idx") + 1).as("Negocio."),
        (col("vta_d") * lit(0.25)).as("Avance $"),
        (col("vta_v") * lit(3L)).as("Avance Vol"),
        // null quotas on a deterministic subset → the F12 fillna(0) path
        when(col("prod_idx") % 5 === 0, lit(null: java.lang.Double))
          .otherwise(col("vta_d")).as("Vta $"),
        col("vta_v").as("Vta Vol"),
        concat(lit("Avancedeventa_Category_"),
          element_at(arrayLit(ZonaTokens), col("zone_idx") + 1),
          lit("_"),
          element_at(arrayLit(MesesEs), col("mes_num"))).as("table_name"),
        col("prod_idx").cast("long").as("row_idx"))
  }

  /** The forecast named-table family (S4): per-(zona, mes) tables whose
    * row 0 is the zone-quota header row (dropped by P9), followed by one
    * row per customer of that zone, plus a 'Total' summary row (dropped
    * by P8). Null client names (→ fillna 0 → dropped by P7) and ghost
    * clients (→ dropped by the dim lookup) are scattered deterministically. */
  def forecastTables(spark: SparkSession, sfDir: String): DataFrame = {
    // Scatter the single-file dim scan: the ×12 month cross join and the
    // client-row string synthesis inherit the scan's partitioning (the
    // months side broadcasts), so unscattered they run one task (see
    // Sources.scatter; no-op on an already-split scan).
    val cust = Sources.scatter(spark,
      Sources.table(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      col("c_custkey"))
    val months = spark.range(1, 13).select(col("id").cast("int").as("mes_num"))
    val zonaOf = element_at(arrayLit(ZonaTokens), (col("c_custkey") % 8).cast("int") + 1)
    def week(i: Int): Column =
      when((col("c_custkey") + i) % 37 === 0, lit(null: java.lang.Double))
        .otherwise(col("c_acctbal") + lit(i * 100.0) + col("mes_num"))
    val clientRows = cust.crossJoin(months).select(
      when(col("c_custkey") % 97 === 0,
        concat(lit("ghost forecast "), col("c_custkey").cast("string")))
        .when(col("c_custkey") % 89 === 0, lit(null: String))
        .otherwise(concat(lit("  "), col("c_name"), lit("  ")))
        .as("ZONA/CLIENTE"),
      week(1).as("WEEK 1"), week(2).as("WEEK 2"), week(3).as("WEEK 3"),
      week(4).as("WEEK 4"), week(5).as("WEEK 5"),
      (col("c_acctbal") * 5 + lit(1500.0) + col("mes_num") * 5).as("TOTAL"),
      lit(0.15).as("Py %"),
      concat(lit("Forecast_"), zonaOf, lit("_"),
        element_at(arrayLit(MesesEs), col("mes_num"))).as("table_name"),
      (col("c_custkey") + 1).cast("long").as("row_idx"))
    val perTable = clientRows
      .groupBy(col("table_name"))
      .agg(sum(coalesce(col("TOTAL"), lit(0.0))).as("tot"))
    val zoneQuotaRows = perTable.select(
      regexp_extract(col("table_name"), "Forecast_([A-Za-z0-9]+)_", 1).as("ZONA/CLIENTE"),
      lit(null: java.lang.Double).as("WEEK 1"), lit(null: java.lang.Double).as("WEEK 2"),
      lit(null: java.lang.Double).as("WEEK 3"), lit(null: java.lang.Double).as("WEEK 4"),
      lit(null: java.lang.Double).as("WEEK 5"),
      col("tot").as("TOTAL"), lit(0.15).as("Py %"),
      col("table_name"), lit(0L).as("row_idx"))
    val totalRows = perTable.select(
      lit("Total").as("ZONA/CLIENTE"),
      lit(1.0).as("WEEK 1"), lit(2.0).as("WEEK 2"), lit(3.0).as("WEEK 3"),
      lit(4.0).as("WEEK 4"), lit(5.0).as("WEEK 5"),
      col("tot").as("TOTAL"), lit(0.15).as("Py %"),
      col("table_name"), lit(1000000000L).as("row_idx"))
    clientRows.unionByName(zoneQuotaRows).unionByName(totalRows)
  }

  // ------------------------------------------- table-name metadata (F10/D9)

  /** F10 — zona display name from the table name (wor2.py:274-283):
    * regex-extract `Zone\s*\d+|KamEast|KamCentral`, strip spaces, then
    * `ZoneN` → `Zone N`. */
  def zonaDisplay(tableName: Column): Column = {
    val tok = regexp_replace(
      regexp_extract(tableName, "(?i)(Zone\\s*\\d+|KamEast|KamCentral)", 1), " ", "")
    when(lower(tok).contains("zone"),
      concat(lit("Zone "), substring(tok, -1, 1))).otherwise(tok)
  }

  /** D8/D9 — (nombre_mes EN, mes, anio) stamped from the Spanish month in
    * the table name (wor2.py:129-149). */
  def monthStamp(df: DataFrame): DataFrame = {
    val mesEs = initcap(regexp_extract(col("table_name"), "_([A-Za-z]+)$", 1))
    df.withColumn("nombre_mes",
        E.mapLookupWithDefault(E.MonthEsToEn, mesEs, "?"))
      .withColumn("mes", E.mapLookup(E.MonthEsToNum, mesEs))
      .withColumn("anio", lit(WorYear))
  }

  // --------------------------------------------------------- bucket cleans

  /** Category bucket clean (wor2.py:286-291): P2 positional rename of
    * columns 3/4 → cuota_dinero/cuota_volumen, F12 whole-frame fillna(0),
    * F10 zona column, month stamp. (The forecast-only steps of
    * limpiar_dataframe are skipped for this bucket — wor2.py:265-272.)
    * Source-agnostic: `tables` is the bucket frame (data columns in
    * source position + table_name/row_idx) from either the parquet
    * fixture ([[categoryTables]]) or a real workbook
    * (`Xlsx.scanWorkbooks` → `bucketDF` — exercised by `XlsxSpec`). */
  def categoryClean(tables: DataFrame): DataFrame = {
    val renamed = Sources.renamePositional(
      tables, Map(3 -> "cuota_dinero", 4 -> "cuota_volumen"))
    monthStamp(
      renamed
        .na.fill(0).na.fill("0")
        .withColumn("Zone", zonaDisplay(col("table_name"))))
      .withColumnRenamed("Negocio.", "nombre_producto")
  }

  def categoryPrepared(spark: SparkSession, sfDir: String): DataFrame =
    categoryClean(categoryTables(spark, sfDir))

  /** Forecast bucket clean (wor2.py:264-272, 294-306): F12 fillna(0) →
    * P3 drop 'Py %' → P9 drop the per-table first row (row_number over
    * the in-file order, W4) → P8 drop rows where any column's string form
    * contains 'Total' → P7 keep first-column ≠ 0 → F10 zona → stamp →
    * P1 semantic renames. */
  def forecastClean(tables: DataFrame): DataFrame = {
    val filled = tables.na.fill(0).na.fill("0")
    // the P8 any-column scan covers every data column that survives the
    // 'Py %' drop — derived from the single header list so it cannot
    // drift from what bucketDF emits
    val dataCols = ForecastHeaders.filterNot(_ == "Py %")
    val w = Window.partitionBy(col("table_name")).orderBy(col("row_idx"))
    val cleaned = filled
      .drop("Py %")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .drop("__rn")
      .filter(!E.anyColumnContains(dataCols.map(col), "Total"))
      .filter(col("ZONA/CLIENTE") =!= "0")
    monthStamp(cleaned.withColumn("Zone", zonaDisplay(col("table_name"))))
      .withColumnsRenamed(Map(
        "ZONA/CLIENTE" -> "nombre_cliente",
        "WEEK 1" -> "semana_1", "WEEK 2" -> "semana_2", "WEEK 3" -> "semana_3",
        "WEEK 4" -> "semana_4", "WEEK 5" -> "semana_5"))
  }

  def forecastPrepared(spark: SparkSession, sfDir: String): DataFrame =
    forecastClean(forecastTables(spark, sfDir))

  // --------------------------------------------------------------- loads

  private def clientesUpper(spark: SparkSession, sfDir: String): DataFrame =
    Sources.table(spark, sfDir, "customer")
      .select(
        col("c_custkey").cast("long").as("id_cliente"),
        E.normUpper(col("c_name")).as("__k_upper"))

  /** Forecast load (wor2.py:310-360): F3 upper+trim client lookup (J2),
    * J3 zone map w/ default 1, P6 reject, P4 projection, week coercion,
    * J5 anti-join on (id_cliente, id_zone, mes, anio). */
  def forecastLoad(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.antiJoinSelfNormalized(forecastAllRows(spark, sfDir),
      col("mes") <= LoadedThroughMonth, ForecastKeys)

  /** The forecast target's key (wor2.py:341-348). */
  private val ForecastKeys = Dedup.exactKeys("id_cliente", "id_zone", "mes", "anio")

  /** The fully-prepared forecast rows (pre-dedup) — shared by the load
    * and the idempotence probe. */
  def forecastAllRows(spark: SparkSession, sfDir: String): DataFrame = {
    val df = forecastPrepared(spark, sfDir)
      .withColumn("__k_upper", E.normUpper(col("nombre_cliente")))
      .join(broadcast(clientesUpper(spark, sfDir)), Seq("__k_upper"), "left")
      .withColumn("id_zone",
        Lookups.zoneId(col("Zone"), Lookups.ZoneMapping))
      .filter(col("id_cliente").isNotNull)
    val weeks = Seq("semana_1", "semana_2", "semana_3", "semana_4", "semana_5")
    val coerced = weeks.foldLeft(df) { (d, c) =>
      d.withColumn(c, coalesce(col(c).try_cast("double"), lit(0.0)))
    }
    Sources.projectTolerant(coerced,
      Seq("semana_1", "semana_2", "semana_3", "semana_4", "semana_5",
        "mes", "anio", "id_cliente", "id_zone", "nombre_mes"))
  }

  /** Re-run idempotence (Ventas PDF §9 applied to WOR): the anti-join vs
    * a target that already holds every key inserts zero rows. */
  def forecastRerun(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.antiJoinSelfNormalized(forecastAllRows(spark, sfDir), lit(true), ForecastKeys)

  /** Cuotas_Avance_Categoria load (wor2.py:362-408): J3 product map with
    * reject (P6), J3 zone map w/ default, numeric coercion (cuota_dinero
    * double / cuota_volumen int), J5 anti-join on
    * (id_producto, id_zone, mes, anio). */
  def cuotasCategoriaLoad(spark: SparkSession, sfDir: String): DataFrame = {
    val df = categoryPrepared(spark, sfDir)
      .withColumn("id_producto",
        E.mapLookup(Lookups.ProductoMapping, trim(col("nombre_producto"))))
      .withColumn("id_zone", Lookups.zoneId(col("Zone"), Lookups.ZoneMapping))
      .filter(col("id_producto").isNotNull)
      .withColumn("cuota_dinero",
        coalesce(col("cuota_dinero").try_cast("double"), lit(0.0)))
      .withColumn("cuota_volumen",
        coalesce(col("cuota_volumen").try_cast("double"), lit(0.0)).cast("long"))
    val prepared = Sources.projectTolerant(df,
      Seq("cuota_dinero", "cuota_volumen", "id_producto", "id_zone",
        "nombre_mes", "mes", "anio"))
    Dedup.antiJoinSelfNormalized(prepared, col("mes") <= LoadedThroughMonth,
      Dedup.exactKeys("id_producto", "id_zone", "mes", "anio"))
  }

  /** Dead path (SURVEY §3 quirk 1): the zone-quotas bucket is never
    * populated (wor2.py:111-155), so the Cuota_forecast load always sees
    * an empty frame — preserved as an always-empty result with the
    * target's schema (wor2.py:227-228). */
  def zoneQuotasLoad(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Int, Long, Double, String, Int, Int)]
      .toDF("id_zone", "id_cliente", "cuota", "nombre_mes", "mes", "anio")
  }
}
