package graft

import org.apache.spark.sql.functions._
import graft.etl.Dedup
import graft.pipelines.{Cartera, PendingOrders, VentasTotales, Wor}

/** Golden invariants of the four pipelines over the smallest driver
  * testdata (value-level parity is the DuckDB oracle's job — these pin
  * the behavioral quirks from SURVEY §3 so they survive refactors). */
class PipelinesSpec extends SparkSpec {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("cartera: no unmapped clients survive P6; rejects catch ghosts") {
    val load = Cartera.load(spark, Sf, Some("2024-06-01"))
    assert(load.filter(col("id_cliente").isNull).count() == 0)
    val rejects = Cartera.rejects(spark, Sf)
    assert(rejects.count() > 0)
    assert(rejects.filter(col("nombre_cliente").startsWith("ghost client")).count() > 0)
    // 'Sin Nombre' (F8) rows exist but never match the dim → rejected
    assert(rejects.filter(col("nombre_cliente") === "Sin Nombre").count() == 1)
  }

  test("cartera: accounting negatives parse negative; N/A parses 0") {
    val load = Cartera.load(spark, Sf, Some("2024-06-01"))
    assert(load.filter(col("open_balance") < 0).count() > 0)
    assert(load.filter(col("open_balance") === 0.0).count() > 0)
  }

  test("pending orders: quirk fixes — estado default, zone default, date default") {
    val load = PendingOrders.load(spark, Sf, Some("2024-06-01"))
    assert(load.filter(col("estado") === "Desconocido").count() > 0)
    assert(load.filter(col("id_zone") === 1L).count() > 0)
    assert(load.filter(col("fecha") === "1900-01-01").count() > 0)
    assert(load.filter(length(col("document_number")) > 20).count() == 0)
  }

  test("ventas: quirk 4 — within-batch duplicates BOTH insert") {
    val dupCounts = VentasTotales.load(spark, Sf)
      .groupBy("id_cliente", "fecha", "document_number", "item", "cantidad_producto")
      .count()
    assert(dupCounts.filter(col("count") >= 2).count() > 0)
  }

  test("wor: dead zone-quotas path yields empty frame with target schema (quirk 1)") {
    val zq = Wor.zoneQuotasLoad(spark, Sf)
    assert(zq.columns.toSeq ==
      Seq("id_zone", "id_cliente", "cuota", "nombre_mes", "mes", "anio"))
    assert(zq.count() == 0)
  }

  test("wor forecast: only months beyond the loaded watermark insert; rerun is idempotent") {
    val load = Wor.forecastLoad(spark, Sf)
    assert(load.filter(col("mes") <= Wor.LoadedThroughMonth).count() == 0)
    assert(load.count() > 0)
    assert(Wor.forecastRerun(spark, Sf).count() == 0)
  }

  test("wor zona extraction: ZoneN spacing, Kam names, case-insensitive (F10)") {
    import spark.implicits._
    val df = Seq("Forecast_Zone3_Enero", "Forecast_KamEast_Mayo",
      "forecast_kamcentral_JULIO", "Avancedeventa_Category_Zone1_Agosto")
      .toDF("table_name")
    val out = df.select(Wor.zonaDisplay(col("table_name")).as("z"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("Zone 3", "KamEast", "kamcentral", "Zone 1"))
    // reference normalizes via ZONE_MAPPING afterwards: unmatched
    // casing falls to the default zone id 1 (wor2.py:330)
    val ids = df.select(graft.etl.Lookups.zoneId(
      Wor.zonaDisplay(col("table_name")), graft.etl.Lookups.ZoneMapping).as("id"))
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(3, 9, 1, 1))
  }

  test("wor month stamp: Spanish month from table name -> EN name + number") {
    import spark.implicits._
    val df = Seq("Forecast_Zone2_Agosto").toDF("table_name")
    val out = Wor.monthStamp(df).collect()(0)
    assert(out.getAs[String]("nombre_mes") == "August")
    assert(out.getAs[Int]("mes") == 8)
    assert(out.getAs[Int]("anio") == Wor.WorYear)
  }

  test("wor cuotas: product reject path drops non-catalog names") {
    val out = Wor.cuotasCategoriaLoad(spark, Sf)
    assert(out.filter(col("id_producto").isNull).count() == 0)
    assert(out.filter(!col("id_producto").between(1, 11)).count() == 0)
  }

  test("ventas: one-pass window form equals the two-pass normalized anti-join") {
    // every self-targeted load ships the window form
    // (Dedup.antiJoinSelfNormalized); the general J4 operator
    // (antiJoinNewNormalized) over `prepared.filter(pred)` is its
    // reference — cross-check the two formulations produce the SAME
    // multiset, within-batch duplicates included
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val ventas = VentasTotales.prepared(spark, Sf)
    def ventasRef(pred: org.apache.spark.sql.Column) =
      VentasTotales.toTargetColumns(Dedup.antiJoinNewNormalized(
        ventas, ventas.filter(pred), VentasTotales.DedupNormalization))
    val forecast = Wor.forecastAllRows(spark, Sf)
    def forecastRef(pred: org.apache.spark.sql.Column) =
      Dedup.antiJoinNewNormalized(forecast, forecast.filter(pred),
        Dedup.exactKeys("id_cliente", "id_zone", "mes", "anio"))
    for ((load, reference) <- Seq(
        VentasTotales.load(spark, Sf) ->
          ventasRef(col("__ship") < to_date(lit(VentasTotales.Cutoff))),
        Wor.forecastLoad(spark, Sf) ->
          forecastRef(col("mes") <= Wor.LoadedThroughMonth)))
      assert(multiset(load) == multiset(reference))
    for ((rerun, reference) <- Seq(
        VentasTotales.rerun(spark, Sf) -> ventasRef(lit(true)),
        Wor.forecastRerun(spark, Sf) -> forecastRef(lit(true)))) {
      assert(rerun.isEmpty)
      assert(reference.isEmpty)
    }
  }
}
