package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join / lookup layer — SURVEY.md §2.5.
  *
  * Every reference lookup is an equi-join against a small dimension
  * (`Clientes`, hundreds of rows) or a literal map (11 entries). At scale
  * the fact side is the 100 TB side: the dimension is ALWAYS broadcast so
  * the fact never shuffles for enrichment.
  */
object Lookups {

  /** J1/J2 — dimension enrichment (cartera.py:121-122; ventas_totales.py:
    * 146-152). Left-join the broadcast dim on a normalized name key;
    * unmatched fact rows keep null ids (rejected downstream by P6).
    *
    * pandas dict parity (J2): duplicate dim keys are last-write-wins, so
    * the dim is deduplicated on the key keeping the row with the highest
    * tie-break before broadcasting.
    */
  def enrichFromDim(
      fact: DataFrame, dim: DataFrame, key: String,
      dimCols: Seq[String], tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(tieBreak).desc)
    val keep = (key +: dimCols).distinct
    val dedupedDim = dim
      .select((keep :+ tieBreak).distinct.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(keep.map(col): _*)
    fact.join(broadcast(dedupedDim), Seq(key), "left")
  }

  /** A1 — reject report (cartera.py:126-128): distinct source names that
    * failed the dimension lookup. */
  def rejects(enriched: DataFrame, idCol: String, nameCol: String): DataFrame =
    enriched
      .filter(col(idCol).isNull)
      .select(col(nameCol))
      .distinct()

  /** J3 — static-map lookup with default (wor2.py:213,330): zone name →
    * id, absent → DEFAULT_ZONE_ID = 1. Constant-folded literal map. */
  def zoneId(zoneName: Column, mapping: Map[String, Int], default: Int = 1): Column =
    Expressions.mapLookupWithDefault(mapping, zoneName, default)

  /** Reference static maps (wor2.py:36-62). */
  val ZoneMapping: Map[String, Int] = Map(
    "Zone 1" -> 1, "Zone 2" -> 2, "Zone 3" -> 3, "Zone 4" -> 4,
    "Zone 5" -> 5, "Zone 6" -> 6, "Zone 7" -> 7, "KamCentral" -> 8,
    "KamEast" -> 9, "E-Commerce" -> 10, "Outlet & Donation" -> 11)

  val ProductoMapping: Map[String, Int] = Map(
    "Ricky Joy Yogurt" -> 1, "Mellow Cones" -> 2, "Crazy Legs" -> 3,
    "Ricky Joy Gels" -> 4, "Jelly Fruits" -> 5, "Plis" -> 6,
    "SSC Roll On" -> 7, "Freeze Dried" -> 8, "3D Gummies" -> 9,
    "SC Gel" -> 10, "Cotton Candy" -> 11)
}
