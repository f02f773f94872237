package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental-load dedup — SURVEY.md §2.5 J4/J5.
  *
  * Reference semantics (ventas_totales.py:169-209; wor2.py:231-239 etc.):
  * normalize the key columns on BOTH sides, then keep only incoming rows
  * whose key tuple is absent from the target. Within-batch duplicates are
  * NOT removed (SURVEY §3 quirk 4): anti-join alone reproduces that — do
  * not add dropDuplicates on the input.
  */
object Dedup {

  /** J4/J5 — left anti-join against a SEPARATE target's key set, with
    * per-side key normalization (ventas_totales.py:186-203): the general
    * operator, for a target that is not a slice of the incoming rows
    * (the production S6 scan). `normalized` maps key name →
    * normalization expression over that column (identity for exact
    * keys); the normalization is applied below the join so column
    * pruning and runtime filters stay effective.
    *
    * Scale: the target side can be huge (every previously loaded row), so
    * it is projected to the key columns FIRST (key-only scan, parity with
    * `SELECT keys FROM target` — ventas_totales.py:176-180) and distinct
    * (map-side partial agg shrinks the shuffle), and AQE picks
    * broadcast vs shuffled-hash vs SMJ from the runtime size. Runtime
    * bloom filters (spark.sql.optimizer.runtime.bloomFilter.enabled)
    * prune the incoming side before the shuffle when the key set is big.
    */
  def antiJoinNewNormalized(
      incoming: DataFrame, existing: DataFrame,
      normalized: Seq[(String, Column => Column)]): DataFrame = {
    val keys = normalized.map(_._1)
    def norm(df: DataFrame): DataFrame =
      normalized.foldLeft(df) { case (d, (k, f)) =>
        d.withColumn(s"__k_$k", f(col(k)))
      }
    val normKeys = keys.map(k => s"__k_$k")
    val keySet = norm(existing).select(normKeys.map(col): _*).distinct()
    norm(incoming)
      .join(keySet, normKeys, "left_anti")
      .drop(normKeys: _*)
  }

  /** J4/J5 for a SELF-DERIVED target: the existing side is, by
    * construction, `incoming.filter(existingPred)` — every incremental
    * load here, where "already loaded" rows are a predicate over the
    * load's own prepared rows. Exactly
    * `antiJoinNewNormalized(incoming, incoming.filter(existingPred), normalized)`
    * in ONE pass: a per-key window flags whether ANY row of the key's
    * group satisfies the predicate, and flagged groups drop. One
    * derivation of the incoming subtree instead of two, no cache, no
    * runtime-bloom machinery.
    *
    * Nulls as in the SQL anti-join: a row whose normalized key has a
    * null never matches, so it never flags its group and always
    * survives. */
  def antiJoinSelfNormalized(
      incoming: DataFrame, existingPred: Column,
      normalized: Seq[(String, Column => Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = normalized.map { case (k, f) => f(col(k)) }
    val matchable = existingPred && keys.map(_.isNotNull).reduce(_ && _)
    incoming
      .withColumn("__in_existing",
        max(when(matchable, 1).otherwise(0)).over(Window.partitionBy(keys: _*)))
      .filter(col("__in_existing") === 0)
      .drop("__in_existing")
  }

  /** Identity normalization over exact key columns, for either form. */
  def exactKeys(keys: String*): Seq[(String, Column => Column)] =
    keys.map(k => k -> ((c: Column) => c))

  /** Exact duplicate removal within a dataset (training-data pipeline
    * operator): hash-groupBy on the content columns, keep the row with
    * the smallest id. Distributed: one shuffle on the content hash. */
  def exactDedup(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(contentCols.map(col): _*)
      .orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
