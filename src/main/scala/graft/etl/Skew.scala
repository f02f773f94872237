package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for large joins — the 100 TB story (SURVEY.md §7.4).
  *
  * First line of defense is AQE's runtime skew-join splitting (on by
  * default in Spark 4). Salting is for the cases AQE can't fix: a
  * shuffle key whose hot values overwhelm single tasks in a SORT/HASH
  * join against a side that can be replicated.
  *
  * Measured A/B (PERF.md "Round-10 AQE skew-join vs manual salting
  * A/B"; clean re-run after a conf-leak retraction): on a 6M-row fact
  * with ~35% of rows on ONE key (hot shuffle partition 16× the median
  * by row count), manual salting
  * cut the join stage 5.5 → 2.9 s, while AQE's OptimizeSkewedJoin —
  * force-enabled, thresholds dropped to 256 KB / factor 1.2 (conf names
  * verified effective via SET -v) — logged "number of skewed
  * partitions: left 0, right 0" and split nothing (its variant's
  * 4.2 s came from the smaller advisory partition size, not from skew
  * splitting). Detection keys on map-output BYTES, and a hot partition of
  * a low-entropy key (constant key + repeated payload under lz4)
  * compresses far closer to the median than its row count suggests.
  * Guidance: treat AQE skew-split as opportunistic, VERIFY it engaged
  * (final plan shows `AQEShuffleRead … skewed`), and reach for
  * [[saltedJoin]] whenever the skew must provably be broken — it is
  * deterministic, planner-independent, and was also the faster variant
  * wherever both applied.
  *
  * Shape: the skewed (big) side gets a deterministic salt in [0, n);
  * the replicated (smaller, but not broadcastable) side is exploded n×,
  * once per salt value; the join key becomes (key, salt). Each hot key's
  * rows then spread over n tasks instead of one.
  */
object Skew {

  /** Deterministic salt from stable row attributes (NOT rand(): retries
    * and speculative tasks must salt identically or the join drops rows). */
  def salt(n: Int, stableCols: Column*): Column =
    pmod(hash(stableCols: _*), lit(n))

  /** Salt the skewed side: adds `__salt` derived from `stableCols`. */
  def saltSkewed(df: DataFrame, n: Int, stableCols: Column*): DataFrame =
    df.withColumn("__salt", salt(n, stableCols: _*))

  /** Replicate the other side once per salt value. */
  def replicateForSalt(df: DataFrame, n: Int): DataFrame =
    df.withColumn("__salt", explode(sequence(lit(0), lit(n - 1))))

  /** Salted equi-join: equivalent rows to `skewed.join(other, keys, how)`
    * with hot keys spread over `n` tasks. `other` is replicated n× — use
    * only when that side is orders of magnitude smaller than the skewed
    * side (but too big to broadcast).
    *
    * `how` is restricted to inner/left/left_semi/left_anti: in a right or
    * full outer join the n unmatched replicas of an `other`-only key
    * would each emit a null-padded row (n copies instead of 1) — the
    * replication trick is only row-equivalent when unmatched `other`
    * rows produce no output. */
  def saltedJoin(
      skewed: DataFrame, other: DataFrame, keys: Seq[String],
      n: Int, how: String = "inner"): DataFrame = {
    val allowed = Set("inner", "left", "leftouter", "left_outer",
      "leftsemi", "left_semi", "leftanti", "left_anti")
    require(allowed.contains(how.toLowerCase.replace(" ", "")),
      s"saltedJoin supports $allowed; '$how' would multiply unmatched " +
        "replicated-side rows")
    // salt from the FULL row, never the join keys alone: a key-derived
    // salt is one constant per key value, which re-concentrates every
    // hot key in a single task — the exact skew the salt exists to
    // break. Hashing all columns spreads a hot key across its rows'
    // other attributes (identical full-row duplicates still co-locate,
    // the unavoidable floor for a deterministic salt).
    saltSkewed(skewed, n, skewed.columns.map(skewed(_)).toIndexedSeq: _*)
      .join(replicateForSalt(other, n), keys :+ "__salt", how)
      .drop("__salt")
  }
}
