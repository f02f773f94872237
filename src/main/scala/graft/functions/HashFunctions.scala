package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MinHash / SimHash / random-hyperplane LSH primitives for near-dup
  * detection and ANN bucketing.
  *
  * All hash families are explicit affine mixes of [[TextFunctions.polyHash]]
  * values — `h_i(x) = (a_i·x + b_i) mod p` with hardcoded deterministic
  * coefficients — so the DuckDB oracle reproduces every signature
  * bit-for-bit. a·x stays below 2^63 (a, x < p ≈ 2^30), so the arithmetic
  * never overflows a long in either engine.
  */
object HashFunctions {

  import TextFunctions.HashMod

  /** Affine-mix coefficients: a_i odd-ish multipliers, b_i offsets, all
    * < p. Fixed formula, not seeded randomness — the oracle SQL embeds
    * the same literals (and, for the corpus-derived plane count, the
    * same generating FORMULA — see [[hyperplaneSketchDynSql]]). */
  val MixMulA = 1000003L
  val MixMulB = 998244353L
  def mixA(i: Int): Long = (MixMulA * (2L * i + 1)) % HashMod
  def mixB(i: Int): Long = (MixMulB * (i + 1)) % HashMod

  def mix(i: Int, h: Column): Column =
    (lit(mixA(i)) * h + lit(mixB(i))) % lit(HashMod)

  /** SQL rendering of [[mix]] over an expression (shared with oracles). */
  def mixSql(i: Int, h: String): String =
    s"(${mixA(i)} * $h + ${mixB(i)}) % $HashMod"

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles of the whitespace tokens (n=3): the unit of
    * near-duplicate comparison. Docs with < n tokens yield no shingles. */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Per-token polyHash array — materialize this as its own column
    * before [[shingleHashesFrom]] so each token's characters are folded
    * exactly once (ArrayAggregate has no codegen; re-evaluating the
    * transform per shingle would triple the interpreted work). */
  def tokenHashes(toks: Column): Column =
    transform(toks, t => TextFunctions.polyHash(t))

  /** Distinct hashed n-gram shingles straight from the token array —
    * the native one-pass kernel (graft.plans.ShingleHashes): polyHash
    * per token + rolling combine + first-occurrence dedup in one static
    * call, value-identical to the [[tokenHashes]]+[[shingleHashesFrom]]
    * HOF chain (pinned by ShingleHashesSpec). This is the dedup
    * family's inner loop. */
  def shingleHashesOfTokens(toks: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.ShingleHashes(Bridge.expression(toks), n))
  }

  /** Distinct hashed 3-gram shingles from a precomputed token-hash array:
    * combine is ((h1·8191 + h2) mod p · 8191 + h3) mod p — overflow-safe
    * (p·8191 < 2^43) and mirrored verbatim in the oracle. HOF
    * formulation — kept as [[shingleHashesOfTokens]]'s property-test
    * twin (ArrayTransform/ArrayAggregate can't whole-stage-codegen). */
  def shingleHashesFrom(hs: Column, n: Int = 3): Column =
    when(size(hs) >= n,
      array_distinct(
        transform(sequence(lit(1), size(hs) - (n - 1)), i =>
          (1 until n).foldLeft(element_at(hs, i)) { (acc, k) =>
            (acc * 8191 + element_at(hs, i + k)) % lit(TextFunctions.HashMod)
          })))
      .otherwise(array().cast("array<bigint>"))

  /** DuckDB rendering of [[shingleHashes]]. */
  def shingleHashesSql(toks: String, n: Int = 3): String = {
    val combine = (1 until n).foldLeft("hs[i]") { (acc, k) =>
      s"(($acc * 8191 + hs[i + $k]) % ${TextFunctions.HashMod})"
    }
    s"CASE WHEN len(hs) >= $n THEN list_distinct(list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $combine)) ELSE [] END"
  }

  /** POSITIONAL n-gram shingle hashes straight from the token array —
    * the native kernel in ordered mode (no dedup; element p is the
    * shingle starting at token p). Same 12.7 s → sub-second win over
    * the interpreted HOF chain as [[shingleHashesOfTokens]]; pinned
    * value-identical to [[orderedShingleHashesFrom]] by
    * ShingleHashesSpec. */
  def orderedShingleHashesOfTokens(toks: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.ShingleHashes(Bridge.expression(toks), n,
      ordered = true))
  }

  /** POSITIONAL n-gram shingle hashes — [[shingleHashesFrom]] without
    * the distinct: element p is the hash of the shingle starting at
    * token p, in document order. Position-sensitive consumers
    * (winnowing's sliding window) need the sequence, not the set.
    * HOF formulation — kept as [[orderedShingleHashesOfTokens]]'s
    * property-test twin. */
  def orderedShingleHashesFrom(hs: Column, n: Int = 3): Column =
    when(size(hs) >= n,
      transform(sequence(lit(1), size(hs) - (n - 1)), i =>
        (1 until n).foldLeft(element_at(hs, i)) { (acc, k) =>
          (acc * 8191 + element_at(hs, i + k)) % lit(TextFunctions.HashMod)
        }))
      .otherwise(array().cast("array<bigint>"))

  /** DuckDB rendering of [[orderedShingleHashesFrom]] over a token-hash
    * list column named `hs`. */
  def orderedShingleHashesSql(n: Int = 3): String = {
    val combine = (1 until n).foldLeft("hs[i]") { (acc, k) =>
      s"(($acc * 8191 + hs[i + $k]) % ${TextFunctions.HashMod})"
    }
    s"CASE WHEN len(hs) >= $n THEN list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $combine) ELSE CAST([] AS BIGINT[]) END"
  }

  // -------------------------------------------------------------- minhash

  /** Number of minhash components and the LSH banding shape (4 bands of
    * 4 rows): collision probability ≈ 1-(1-j⁴)⁴ — steep around j≈0.6. */
  val MinHashK = 16
  val BandRows = 4
  val NumBands: Int = MinHashK / BandRows

  /** Aggregate expressions for the minhash signature: min over the doc's
    * shingle hashes of each affine mix. Input column `h` = shingle hash;
    * produces columns m0..m{K-1} via groupBy(doc).agg(...). */
  def signatureAggs(h: Column): Seq[Column] =
    (0 until MinHashK).map(i => min(mix(i, h)).as(s"m$i"))

  /** Band key: the band's minhash components concatenated — equal keys ⇔
    * all components equal. */
  def bandKey(b: Int): Column =
    concat_ws(",", (0 until BandRows).map(r => col(s"m${b * BandRows + r}")): _*)

  /** Estimated Jaccard from two signatures: fraction of equal components. */
  def estJaccard(left: String => Column, right: String => Column): Column =
    (0 until MinHashK)
      .map(i => when(left(s"m$i") === right(s"m$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(MinHashK.toDouble)

  // -------------------------------------------------------------- simhash

  /** SimHash width: 32 bits, one independent affine mix per bit (a
    * random-projection-per-bit formulation: bit_j of the sketch is the
    * sign of Σ_tokens ±1 weighted by parity of mix_j(token hash)). */
  val SimHashBits = 32

  /** Per-bit signed-count aggregates over exploded token hashes `h`:
    * groupBy(doc).agg(bitSumAggs...) → columns s0..s31. */
  def bitSumAggs(h: Column): Seq[Column] =
    (0 until SimHashBits).map { j =>
      sum(when(mix(j, h) % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }

  /** Fold the per-bit sums into the 32-bit sketch (positive sum → 1). */
  def simhashFromSums: Column =
    (0 until SimHashBits)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** 8-bit band of a simhash — Hamming-LSH blocking key. */
  def simhashBand(simhash: Column, b: Int): Column =
    shiftright(simhash, 8 * b) % 256

  // ------------------------------------- random-hyperplane LSH (vectors)

  /** Sign-LSH planes: integer weights w_{k,d} = ((a_k·(d+1) + b_k) mod
    * 1009) - 504, zero-mean over dims, identical literals in the oracle. */
  val NumPlanes = 16

  def planeWeight(k: Int, d: Int): Double =
    (((mixA(k) * (d + 1) + mixB(k)) % 1009) - 504).toDouble

  /** Dot product of a float-array embedding with plane k — the native
    * codegen'd constant-weights loop (graft.plans.ArrayDotConst),
    * bit-identical to [[planeDotHof]]'s left fold (pinned by
    * ArrayCosineSpec). Evaluates `planes`× per row in every sketch, so
    * this is the sketching hot loop. */
  def planeDot(embedding: Column, k: Int, dims: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.ArrayDotConst(
      Bridge.expression(embedding), (0 until dims).map(d => planeWeight(k, d))))
  }

  /** HOF reference formulation of [[planeDot]] (order-pinned left fold —
    * interpreted; kept as the property-test twin). */
  def planeDotHof(embedding: Column, k: Int, dims: Int): Column = {
    val w = typedlit((0 until dims).map(d => planeWeight(k, d)))
    aggregate(
      zip_with(embedding, w, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v)
  }

  /** Sign sketch of an embedding over `planes` hyperplanes (bit k = sign
    * of plane-k dot). Fewer planes → coarser buckets → higher recall per
    * probe: 16 for near-dup buckets, 8 for ANN probing. */
  def hyperplaneSketch(embedding: Column, dims: Int, planes: Int = NumPlanes): Column =
    (0 until planes)
      .map(k => when(planeDot(embedding, k, dims) > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Bounded top-k aggregate column (graft.plans.TopKByScore): the k
    * best (score, id) pairs per group, best-first, ties to the lower id.
    * Map-side partials hold ≤ k pairs, so the shuffle carries k-element
    * buffers instead of every scored row — the scale path for ranked
    * retrieval (the rank-window formulation shuffles the full scored
    * set). */
  def topKByScore(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(
      graft.plans.TopKByScore(Bridge.expression(score), Bridge.expression(id), k)
        .toAggregateExpression())
  }

  /** Cosine similarity — the native codegen'd expression
    * (graft.plans.ArrayCosine): one fused loop, three order-pinned
    * accumulators, bit-identical to [[cosineHof]] and the oracle's
    * list_reduce folds (pinned by ArrayCosineSpec). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.ArrayCosine(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Squared-L2 distance — the native codegen'd expression
    * (graft.plans.ArrayL2Sq): one fused loop, one order-pinned
    * accumulator, bit-identical to [[l2sqHof]] and the oracle's
    * list_reduce fold (pinned by ArrayL2SqSpec). The PQ metric. */
  def l2sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.ArrayL2Sq(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** The HOF reference formulation of [[l2sq]] (order-pinned left fold
    * of (x−y)²) — the property-test twin, off the hot path. */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (u, v) => {
        val d = u.cast("double") - v.cast("double")
        d * d
      }),
      lit(0.0), (acc, v) => acc + v)

  /** The HOF reference formulation of [[cosine]] (order-pinned double
    * folds, left-to-right; sqrt is IEEE-exact). ArrayAggregate cannot
    * whole-stage-codegen, so this stays off the hot path — it is the
    * property-test twin the native expression is verified against. */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, v) => u.cast("double") * v.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  // ------------------------------------------------- DuckDB SQL builders

  /** DuckDB: left-fold sum of a double list (list_sum's summation order
    * is not contractually left-to-right, so fold explicitly). */
  def foldSumSql(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $listExpr), (acc, x) -> acc + x)"

  def dotSql(a: String, b: String): String =
    foldSumSql(s"list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))")

  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** DuckDB literal for plane k's weight list. */
  def planeWeightsSql(k: Int, dims: Int): String =
    (0 until dims).map(d => planeWeight(k, d)).mkString("[", ", ", "]")

  def planeDotSql(embedding: String, k: Int, dims: Int): String =
    dotSql(embedding, planeWeightsSql(k, dims))

  def hyperplaneSketchSql(embedding: String, dims: Int, planes: Int = NumPlanes): String =
    (0 until planes)
      .map(k => s"CASE WHEN ${planeDotSql(embedding, k, dims)} > 0 THEN ${1L << k} ELSE 0 END")
      .mkString("(", " + ", ")")

  /** DuckDB sketch with a RUNTIME plane count (`planesExpr`, e.g. a
    * scalar-subquery column): instead of unrolling per-plane weight
    * literals, the weights are derived in-SQL from the same generating
    * formula as [[planeWeight]] — `((mixA(k)·d + mixB(k)) % 1009) - 504`
    * over `d = 1..dims` — so the oracle tracks a corpus-derived plane
    * count at any scale factor. Verified bit-equal to the unrolled form. */
  def hyperplaneSketchDynSql(embedding: String, dims: Int, planesExpr: String): String = {
    val weight =
      s"CAST((((${MixMulA} * (2*k + 1)) % $HashMod) * d + ((${MixMulB} * (k + 1)) % $HashMod)) % 1009 - 504 AS DOUBLE)"
    val planeDot = foldSumSql(
      s"list_transform(list_zip($embedding, list_transform(generate_series(1, $dims), d -> $weight)), " +
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))")
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(0, $planesExpr - 1), k -> " +
      s"CASE WHEN $planeDot > 0 THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)"
  }
}
