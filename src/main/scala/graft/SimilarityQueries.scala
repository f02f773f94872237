package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.Registry.Q
import graft.etl.Sources.{parquet, table}
import graft.functions.{HashFunctions => H}

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, and a
  * multi-probe sign-LSH ANN as the scale path. Cosines are order-pinned
  * double folds, so both queries hash-match their DuckDB oracles.
  *
  * Scale notes (100 TB): the query set is broadcast — the corpus never
  * shuffles for scoring. Brute-force cost is |Q|·|corpus| dots; the
  * baseline's top-k window shuffles |Q|·|corpus| scored rows partitioned
  * by query, and [[knnTopK]] is the pre-reduced form (bounded-heap
  * aggregate, ≤ k pairs per query per partition cross the shuffle). The
  * ANN variants shuffle on the LSH bucket id / centroid id instead,
  * touching only candidate buckets.
  */
object SimilarityQueries {

  /** Every 50th vector is a query point. */
  private val QueryMod = 50
  private val Dims = 64

  /** ANN-LSH plane count, derived from the corpus size: planes ≈
    * log2(n / targetPerBucket) keeps expected bucket occupancy (and so
    * per-probe scored candidates) roughly constant as the corpus grows —
    * a fixed plane count would make per-bucket occupancy O(n). Clamped
    * to [4, 48] (sketches are Long bit-masks). At the verification scale
    * (n = 500, sf0.01) this yields 8 — the value the static oracle SQL
    * pins (the oracle cannot derive a per-corpus constant, so it encodes
    * the derivation's value at the scale the driver verifies at). */
  def lshPlanes(n: Long, targetPerBucket: Int = 2): Int = {
    require(n > 0, s"lshPlanes needs a non-empty corpus, got n=$n")
    // exact integer ceil(log2): float log(x)/log(2) lands a ulp on
    // either side of whole numbers at power-of-two inputs (and the
    // oracle's LOG2 may land on the other side), silently desyncing the
    // plane count at exactly those corpus sizes. smallest k with
    // 2^k >= ceil(n/target) is the same value, computed exactly — the
    // oracle mirrors it with an exact power comparison.
    val m = (n + targetPerBucket - 1) / targetPerBucket
    val raw = if (m <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(48, math.max(4, raw))
  }

  /** IVF centroid stride: floor(sqrt(n)) ⇒ K ≈ √n centroids. Sublinear
    * on purpose — K linear in n makes assignment O(n²) dots and the
    * broadcast centroid table O(n) rows, both of which explode at 100×.
    * With K ≈ √n, assignment is O(n^1.5) dots, the broadcast stays tiny
    * (√n rows), and mean inverted-list length is also ≈ √n — the
    * classical IVF balance point. */
  def ivfStride(n: Long): Long = {
    require(n > 0, s"ivfStride needs a non-empty corpus, got n=$n")
    math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
  }

  /** IVF probe count: max(2, ceil(K/8)) for K centroids — each query
    * scans ~nProbe/K ≈ 1/8 of the corpus regardless of scale, so recall
    * stays roughly constant as K grows with √n (a fixed nProbe over a
    * growing K would silently decay recall). */
  def ivfNProbe(k: Long): Long = math.max(2L, (k + 7) / 8)

  /** Shared ranked-output tail: bounded-heap top-k
    * ([[graft.plans.TopKByScore]]) over a scored (query_id, neighbor_id,
    * cosine) frame — candidates reduce to ≤ k per query on the map side,
    * so the shuffle never carries the full scored set (the rank-window
    * formulation does; `sim_knn_brute` keeps it as the baseline).
    * Requires (query_id, neighbor_id) pairs to be unique — duplicates
    * would each count once, where a rank window would rank them twice. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(H.topKByScore(col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        col("p.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))

  /** Every (query, neighbor) cosine — the brute-force scoring both
    * exact-k-NN formulations rank: query set broadcast, corpus never
    * shuffles for scoring. */
  private def scoredAll(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .toDF("query_id", "q_emb")
    e.toDF("neighbor_id", "n_emb")
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
  }

  /** Brute-force exact top-k (k=5) by cosine, ties broken by neighbor id. */
  val knnBrute: Q = Q(
    "sim_knn_brute",
    (s, dir) => {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scoredAll(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e WHERE vec_id % $QueryMod = 0),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${H.cosineSql("q.q_emb", "e.embedding")} AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** Exact top-k via the native bounded-heap aggregate
    * (`graft.plans.TopKByScore`): same scoring as [[knnBrute]] and the
    * SAME oracle, but the rank window — which shuffles every scored row
    * (|Q|·n) before discarding all but k — is replaced by a map-side
    * partial top-k, so the shuffle carries only k-pair buffers per
    * query per partition. This is the formulation that survives 100 TB;
    * `sim_knn_brute` stays as the window-formulation baseline. */
  val knnTopK: Q = Q(
    "sim_knn_topk",
    (s, dir) => topK(scoredAll(s, dir), 5),
    knnBrute.oracle)

  /** Multi-probe sign-LSH ANN: sketch buckets over [[lshPlanes]]
    * hyperplanes (derived from the corpus count — 8 at the sf0.01
    * verification scale, growing ~log2(n) so buckets stay constant-size);
    * each query probes its own bucket plus the `planes` Hamming-1
    * neighbors, scores only the candidates it meets there, and keeps
    * top-3. Approximate by design — the oracle checks the algorithm
    * (identical buckets, probes, and scores), not equality with the
    * exact k-NN. Deriving the plane count runs one small count job over
    * the corpus scan (footer-only when
    * spark.sql.parquet.aggregatePushDown is on, as the harness sessions
    * set; a plain row-count job otherwise — cheap either way, but a job,
    * not driver-side metadata). */
  val annLsh: Q = Q(
    "sim_ann_lsh",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planes = lshPlanes(e.count())
      val sk = e.withColumn("sketch", H.hyperplaneSketch(col("embedding"), Dims, planes))
      val probes = sk.filter(col("vec_id") % QueryMod === 0)
        .toDF("query_id", "q_emb", "q_sketch")
        .select(col("query_id"), col("q_emb"),
          explode(array(
            col("q_sketch") +: (0 until planes)
              .map(b => col("q_sketch").bitwiseXOR(lit(1L << b))): _*))
            .as("sketch"))
      val scored = sk.toDF("neighbor_id", "n_emb", "sketch")
        .join(probes, Seq("sketch"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
      // bounded-heap top-k, not a rank window: candidates shrink to k
      // map-side ((query, neighbor) pairs are unique here — a neighbor's
      // sketch equals exactly one probe value, so no dedup needed)
      topK(scored, 3)
    },
    Some {
      // The oracle re-derives the plane count from the corpus the same
      // way the Spark side does (clamp(min k: 2^k >= ceil(n/2), 4, 48) —
      // an EXACT power comparison, never a float LOG2 that can land a
      // ulp across a whole number at power-of-two corpus sizes), and
      // builds the sketch from the weight-generating FORMULA instead of
      // unrolled literals — so it tracks any scale factor, not just the
      // sf0.01 value of 8 (ScaleKnobsSpec pins the derivation values).
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |np AS (SELECT GREATEST(4, LEAST(48,
         |  (SELECT MIN(k) FROM generate_series(1, 64) g(k)
         |   WHERE POWER(2, k) >= CEIL(cnt / 2.0)))) AS planes
         |  FROM (SELECT COUNT(*) AS cnt FROM e)),
         |sk AS (SELECT vec_id, embedding, ${H.hyperplaneSketchDynSql("embedding", Dims, "np.planes")} AS sketch FROM e, np),
         |probes AS (
         |  SELECT sk.vec_id AS query_id, sk.embedding AS q_emb,
         |         unnest(list_prepend(sk.sketch,
         |           list_transform(generate_series(0, np.planes - 1),
         |             b -> xor(sk.sketch, CAST(1 AS BIGINT) << b)))) AS sketch
         |  FROM sk, np WHERE sk.vec_id % $QueryMod = 0),
         |scored AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |         ${H.cosineSql("p.q_emb", "c.embedding")} AS cosine
         |  FROM probes p JOIN sk c USING (sketch)
         |  WHERE c.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin
    })

  /** IVF-style ANN: a deterministic √n-sized subset of the vectors acts
    * as the coarse-quantizer centroids (an inverted file's cluster
    * heads — [[annIvfKmeans]] refines them; [[ivfStride]] explains the
    * √n balance). Every vector is assigned to its nearest centroid via
    * [[assignArgmax]] (broadcast join + partial-aggregating argmax —
    * the shuffle carries n assigned rows, never the n·K scored set);
    * each query probes its [[ivfNProbe]] nearest inverted lists
    * ([[probeRanks]] windows over the |Q|·K query scores only) and
    * ranks only their members. The candidate join shuffles on the
    * centroid id — cost follows list sizes (≈√n), independent of
    * corpus². Probes are every [[QueryMod]]-th vector — the documented
    * queries-grow-with-corpus workload model. The fixed-query-stream
    * scaling witness (|Q| pinned to sf1's query set at both decades:
    * measured sf1→sf10 ratio 4.05, ~linear in n as the nprobe·listsize
    * arithmetic claims) is PERF.md "Round 16 fixed-query-stream ANN
    * witness". */
  val annIvf: Q = Q(
    "sim_ann_ivf",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val stride = ivfStride(e.count())
      val centroids = e.filter(col("vec_id") % stride === lit(3L % stride))
        .toDF("centroid_id", "c_emb")
      val nProbe = ivfNProbe(centroids.count())
      val lists = assignArgmax(e, centroids)
        .toDF("neighbor_id", "n_emb", "centroid_id")
      val probes = probeRanks(
        e.filter(col("vec_id") % QueryMod === 0), centroids, nProbe)
      val scored = probes.join(lists, Seq("centroid_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
      // bounded-heap top-k ((query, neighbor) pairs are unique: every
      // neighbor lives in exactly one inverted list)
      topK(scored, 3)
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |params AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS stride FROM e),
         |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |      FROM e, params WHERE vec_id % params.stride = 3 % params.stride),
         |np AS (SELECT GREATEST(2, CAST(CEIL(COUNT(*) / 8.0) AS BIGINT)) AS nprobe FROM c),
         |assigned AS (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |         ROW_NUMBER() OVER (
         |           PARTITION BY e.vec_id
         |           ORDER BY ${H.cosineSql("e.embedding", "c.c_emb")} DESC, c.centroid_id ASC) AS crank
         |  FROM e CROSS JOIN c),
         |lists AS (
         |  SELECT vec_id AS neighbor_id, embedding AS n_emb, centroid_id
         |  FROM assigned WHERE crank = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
         |  FROM assigned WHERE vec_id % $QueryMod = 0 AND crank <= (SELECT nprobe FROM np)),
         |scored AS (
         |  SELECT p.query_id, l.neighbor_id,
         |         ${H.cosineSql("p.q_emb", "l.n_emb")} AS cosine
         |  FROM probes p JOIN lists l USING (centroid_id)
         |  WHERE l.neighbor_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin))

  // ------------------------------------------------- k-means-refined IVF

  /** Lloyd iterations for the refined IVF coarse quantizer: enough to
    * move every centroid to its cluster's mean twice (assignments are
    * near-fixpoint after 2 rounds on these unit-norm synthetic vectors);
    * each extra round costs one n×K assignment pass + one (K·dims)-group
    * mean, so rounds are a constant, not a knob that grows with n. */
  private val KmeansIters = 2

  /** All (vector, centroid) cosines: one broadcast of the (≈√n-row)
    * centroid table — the corpus never shuffles for scoring. */
  private[graft] def scoredCentroids(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        H.cosine(col("embedding"), col("c_emb")).as("sim"))

  /** Nearest-centroid assignment (ties to the lower centroid id) as a
    * partial-aggregating argmax — `max(struct(sim, -centroid_id, …))`
    * reduces each vector's K candidates to ONE row map-side, so the
    * shuffle carries n rows. The rank-window formulation shuffles the
    * full n·K scored set (n^1.5 rows at K≈√n — the thing that explodes
    * at 100×); it survives only in [[probeRanks]], where the input is
    * already the small query subset. */
  private[graft] def assignArgmax(e: DataFrame, centroids: DataFrame): DataFrame =
    scoredCentroids(e, centroids)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"),
        (-col("centroid_id")).as("tb"),
        col("centroid_id").as("cid"),
        col("embedding").as("emb"))).as("m"))
      .select(col("vec_id"), col("m.emb").as("embedding"),
        col("m.cid").as("centroid_id"))

  /** Per-query centroid ranking (1 = nearest), kept ≤ nProbe: the rank
    * window runs over |Q|·K rows only. */
  private def probeRanks(queries: DataFrame, centroids: DataFrame,
      nProbe: Long): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("centroid_id").asc)
    scoredCentroids(queries, centroids)
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nProbe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
  }

  /** IVF ANN with a TRAINED coarse quantizer: the [[annIvf]] pipeline,
    * but the centroids are refined by [[KmeansIters]] distributed Lloyd
    * rounds before the index is built — assignment is the broadcast
    * argmax above; the update is a (centroid, dim) mean computed as an
    * order-pinned fold over the SORTED per-dim values (doubles summed in
    * a pinned order are engine-reproducible where a groupBy sum of
    * doubles is not — same rule as every money aggregate here), cast
    * back to float so the refined centroids are the same type the
    * sketches use. Each Lloyd round is one broadcast join + one
    * (K·dims)-group aggregate: no n² anywhere, centroid table stays √n.
    * Cluster labels stay the INIT centroid ids (stable across rounds);
    * a centroid whose cluster empties drops out in both engines.
    * Trade-off, stated plainly: the sorted fold holds one cluster-dim's
    * values (≈√n doubles) per aggregation group — the price of
    * bit-reproducible means across engines; a production run that
    * accepts non-bitwise means would use a plain sum/count partial
    * aggregate (O(1) state) and converge identically.
    *
    * The oracle unrolls the same two Lloyd rounds as CTEs from the same
    * cosine/fold fragments, so signatures match bit-for-bit. */
  val annIvfKmeans: Q = Q(
    "sim_ann_ivf_kmeans",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val stride = ivfStride(e.count())
      var centroids = e.filter(col("vec_id") % stride === lit(3L % stride))
        .toDF("centroid_id", "c_emb")
      for (_ <- 1 to KmeansIters) {
        val assign = assignArgmax(e, centroids)
        val dimMeans = assign
          .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("centroid_id"), col("pos"))
          .agg(collect_list(col("v").cast("double")).as("vs"), count(lit(1)).as("cnt"))
          .select(col("centroid_id"), col("pos"),
            (aggregate(array_sort(col("vs")), lit(0.0), (a, x) => a + x) / col("cnt"))
              .cast("float").as("mean"))
        centroids = dimMeans.groupBy(col("centroid_id"))
          .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pm"))
          .select(col("centroid_id"),
            transform(col("pm"), x => x.getField("mean")).as("c_emb"))
      }
      // the trained centroids feed BOTH the list build and the probe
      // ranking — persist so the two Lloyd rounds run once
      val cFinal = centroids.persist(StorageLevel.MEMORY_AND_DISK)
      val nProbe = ivfNProbe(cFinal.count())
      val lists = assignArgmax(e, cFinal)
        .toDF("neighbor_id", "n_emb", "centroid_id")
      val probes = probeRanks(
        e.filter(col("vec_id") % QueryMod === 0), cFinal, nProbe)
      val scored = probes.join(lists, Seq("centroid_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
      topK(scored, 3)
    },
    Some {
      // one Lloyd round as CTEs: assignment against `cIn` → per-dim
      // sorted-fold means → refined centroid lists
      def iterSql(i: Int, cIn: String): String =
        s"""a$i AS (
           |  SELECT vec_id, embedding, centroid_id FROM (
           |    SELECT e.vec_id, e.embedding, c.centroid_id,
           |           ROW_NUMBER() OVER (
           |             PARTITION BY e.vec_id
           |             ORDER BY ${H.cosineSql("e.embedding", "c.c_emb")} DESC, c.centroid_id ASC) AS crank
           |    FROM e CROSS JOIN $cIn c) WHERE crank = 1),
           |m$i AS (
           |  SELECT a.centroid_id, p.pos,
           |         CAST(${H.foldSumSql("list_sort(list(CAST(a.embedding[p.pos] AS DOUBLE)))")} / COUNT(*) AS REAL) AS mean
           |  FROM a$i a, (SELECT unnest(generate_series(1, $Dims)) AS pos) p
           |  GROUP BY a.centroid_id, p.pos),
           |c$i AS (SELECT centroid_id, list(mean ORDER BY pos) AS c_emb FROM m$i GROUP BY centroid_id)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |params AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS stride FROM e),
         |c0 AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |       FROM e, params WHERE vec_id % params.stride = 3 % params.stride),
         |${iterSql(1, "c0")},
         |${iterSql(2, "c1")},
         |np AS (SELECT GREATEST(2, CAST(CEIL(COUNT(*) / 8.0) AS BIGINT)) AS nprobe FROM c2),
         |a3 AS (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |         ROW_NUMBER() OVER (
         |           PARTITION BY e.vec_id
         |           ORDER BY ${H.cosineSql("e.embedding", "c.c_emb")} DESC, c.centroid_id ASC) AS crank
         |  FROM e CROSS JOIN c2 c),
         |lists AS (
         |  SELECT vec_id AS neighbor_id, embedding AS n_emb, centroid_id
         |  FROM a3 WHERE crank = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
         |  FROM a3 WHERE vec_id % $QueryMod = 0 AND crank <= (SELECT nprobe FROM np)),
         |scored AS (
         |  SELECT p.query_id, l.neighbor_id,
         |         ${H.cosineSql("p.q_emb", "l.n_emb")} AS cosine
         |  FROM probes p JOIN lists l USING (centroid_id)
         |  WHERE l.neighbor_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin
    })

  /** Symmetric int8 embedding quantization — the vector-store
    * compression step (4× smaller than float32, the standard serving
    * format): per-vector scale = max|x|/127, elements round-clamped to
    * [-127, 127], emitted as order-insensitive exact checksums (Σq,
    * Σq² — integers ≤ 64·127², exact in doubles) plus the max absolute
    * reconstruction error. Every op is deterministic IEEE double math
    * with identical expression shape on both engines (round is
    * half-away-from-zero in Spark's HALF_UP and DuckDB alike), so even
    * the float error bound hash-matches. Pure per-row projection — at
    * 100 TB this is a map over the embedding scan, no shuffle before
    * the output sort. Zero vectors quantize to all-zeros via the 1e-12
    * scale floor rather than dividing by zero. */
  val quantizeInt8: Q = Q(
    "sim_quantize_int8",
    (s, dir) => {
      val xd = transform(col("embedding"), x => x.cast("double"))
      val maxAbs = aggregate(xd, lit(0.0), (a, x) => greatest(a, abs(x)))
      val qOf = (x: Column) =>
        least(greatest(round(x / col("scale")), lit(-127.0)), lit(127.0))
      table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("scale", greatest(maxAbs, lit(1e-12)) / 127.0)
        .withColumn("qs", transform(xd, x => qOf(x)))
        .select(col("vec_id"), col("scale"),
          aggregate(col("qs"), lit(0.0), (a, q) => a + q)
            .cast("long").as("q_sum"),
          aggregate(col("qs"), lit(0.0), (a, q) => a + q * q)
            .cast("long").as("q_sq_sum"),
          aggregate(
            transform(xd, x => abs(x - qOf(x) * col("scale"))),
            lit(0.0), (a, e) => greatest(a, e)).as("max_err"))
        .orderBy("vec_id")
    },
    Some(
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         greatest(list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale, embedding,
        |         list_transform(embedding, x ->
        |           least(greatest(round(CAST(x AS DOUBLE) / scale), -127.0), 127.0)) AS qs
        |  FROM s)
        |SELECT vec_id, scale,
        |       CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |       CAST(list_sum(list_transform(qs, v -> v * v)) AS BIGINT) AS q_sq_sum,
        |       list_max(list_transform(embedding, x ->
        |         abs(CAST(x AS DOUBLE) -
        |             least(greatest(round(CAST(x AS DOUBLE) / scale), -127.0), 127.0) * scale))) AS max_err
        |FROM q
        |ORDER BY vec_id""".stripMargin))

  // ------------------------------------------------ product quantization

  /** PQ subspace count (64 dims → 4 × 16-dim subvectors). Constant by
    * design: M is a compression-ratio knob (codes per vector), not a
    * corpus-size knob — the codebook size K is what scales with n. */
  private val PqM = 4
  private val PqSubDim = Dims / PqM

  /** Order-pinned squared-L2 over a subvector pair — the PQ metric,
    * evaluated n·M·K times per build: the NATIVE codegen'd kernel
    * ([[HashFunctions.l2sq]] → graft.plans.ArrayL2Sq). The first cut
    * used the interpreted HOF fold here and the encode pass alone was
    * ~10× the arithmetic cost (same lesson as ArrayCosine). */
  private def l2sq(a: Column, b: Column): Column = H.l2sq(a, b)

  private def l2sqSql(a: String, b: String): String =
    H.foldSumSql(s"list_transform(list_zip($a, $b), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
      "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))")

  /** ADC shortlist size before exact re-rank: a constant MULTIPLE OF k
    * (not corpus-scaled) — it bounds the exact-scoring cost per query
    * to 32 full-precision dots regardless of corpus size; recall is
    * maintained at scale by the codebook K growing with √n, not by
    * widening the shortlist. Measured on the worst-case uniform
    * fixture: true-top-3 recall 0.03 from raw ADC ranks alone vs 0.40
    * after the re-rank — the re-rank stage is what makes PQ usable,
    * not an optimization. */
  private val PqShortlist = 32

  /** Each vector's [[PqM]] subvectors: (vec_id, m, sub) — the unpivot
    * every PQ stage starts from. Callers persist (the frame fans out
    * to codebook sampling, encoding, and the query distance table). */
  private def pqSubs(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      posexplode(array((0 until PqM).map(m =>
        slice(col("embedding"), m * PqSubDim + 1, PqSubDim)): _*))
        .as(Seq("m", "sub")))

  /** PQ encode: nearest code per (vector, subspace), ties to the lower
    * code id — then WIDE (one row per vector, M int code columns): the
    * ADC scan's per-candidate work must be scalar math on one row, not
    * an M-row aggregation per (query, candidate). The first cut of this
    * operator summed per-pair distances through a
    * collect_list+array_sort fold and measured 13.9× wall-clock at 5×
    * corpus (quadratic pair count × per-pair buffer churn); the wide
    * form is the same quadratic scan but each pair is 4 hash-lookups
    * + 3 codegen'd adds, no shuffle, no buffers. Shared verbatim by
    * [[pqAdc]], [[annIvfPq]], and the persisted artifact build
    * ([[buildIndex]]), so the three hash-match by construction. */
  private def pqEncodeWide(subs: DataFrame, codes: DataFrame): DataFrame =
    subs.join(broadcast(codes), Seq("m"))
      .select(col("vec_id"), col("m"), col("code_id"),
        l2sq(col("sub"), col("c_sub")).as("d"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max(struct((-col("d")).as("nd"), (-col("code_id")).as("tb"),
        col("code_id").as("cid"))).as("best"))
      .groupBy(col("vec_id"))
      .pivot("m", 0 until PqM)
      .agg(first(col("best.cid")))
      .toDF(("neighbor_id" +: (0 until PqM).map(m => s"c$m")): _*)

  /** Product-quantization ANN with asymmetric distance computation
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011), run as the production two-stage pipeline:
    * vectors are encoded as [[PqM]] code ids (nearest codebook entry
    * per 16-dim subspace, squared-L2, ties to the lower code id);
    * queries stay full-precision; a per-query distance TABLE of
    * query→code subspace distances scores every candidate as a sum of
    * M table lookups (the ADC scan); the best [[PqShortlist]]
    * candidates are then re-ranked with exact cosine and the top 3
    * returned. The memory story at 100 TB is the point: the scanned
    * index is M small ints per vector instead of 64 floats — 16× less
    * I/O per candidate — and full vectors are touched only for the
    * 32-row shortlist.
    *
    * Plan shape: codebooks are K ≈ √n stride-sampled subvectors per
    * subspace, broadcast; encoding is a broadcast argmin whose shuffle
    * carries n·M pre-reduced rows (map-side combine, same discipline
    * as [[assignArgmax]]); the distance table (|Q|·M·K rows) is
    * broadcast; ADC scoring shuffles the (query, neighbor) partial
    * sums into a 4-element sorted-struct fold (order pinned by
    * subspace index — a groupBy SUM of doubles would be
    * accumulation-order-dependent and break the oracle hash); the
    * shortlist reduces via the bounded heap and is BROADCAST back
    * against the embedding table for the exact re-rank, so the corpus
    * is never shuffled for scoring. Production composes this with the
    * IVF coarse quantizer ([[annIvf]]) to scan only probed lists; the
    * flat ADC scan here isolates the PQ semantics. */
  val pqAdc: Q = Q(
    "sim_pq_adc",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val stride = ivfStride(e.count())
      val subs = pqSubs(e).persist(StorageLevel.MEMORY_AND_DISK)
      val codes = subs.filter(col("vec_id") % stride === lit(3L % stride))
        .select(col("m"), col("vec_id").as("code_id"), col("sub").as("c_sub"))
      // encode (see [[pqEncodeWide]] for the wide-row rationale)
      val encoded = pqEncodeWide(subs, codes)
      // per-query distance table: every (subspace, code) distance
      val dtable = subs.filter(col("vec_id") % QueryMod === 0)
        .join(broadcast(codes), Seq("m"))
        .select(col("vec_id").as("query_id"), col("m"), col("code_id"),
          l2sq(col("sub"), col("c_sub")).as("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // M broadcast joins (one per subspace slice of the distance table),
      // then a FIXED-ORDER scalar sum — left-associated adds, the same
      // expression shape the oracle writes, so the double is bit-identical
      val scored0 = (0 until PqM).foldLeft(encoded) { (acc, m) =>
        val dt = dtable.filter(col("m") === m)
          .select(col("query_id").as(s"q$m"), col("code_id").as(s"k$m"),
            col("d").as(s"d$m"))
        val cond =
          if (m == 0) col(s"c$m") === col(s"k$m")
          else col(s"c$m") === col(s"k$m") && col("q0") === col(s"q$m")
        acc.join(broadcast(dt), cond)
      }
      val scored = scored0
        .filter(col("neighbor_id") =!= col("q0"))
        .select(col("q0").as("query_id"), col("neighbor_id"),
          (0 until PqM).map(m => col(s"d$m")).reduceLeft(_ + _).as("adc_dist"))
      // ADC shortlist (lowest approximate distance wins, ties to the
      // lower neighbor id via the heap's id tie-break on equal scores)
      val shortlist = scored
        .groupBy(col("query_id"))
        .agg(H.topKByScore((-col("adc_dist")).as("score"),
          col("neighbor_id"), PqShortlist).as("top"))
        .select(col("query_id"), explode(col("top")).as("p"))
        .select(col("query_id"), col("p.id").as("neighbor_id"))
      // exact re-rank: the tiny shortlist is broadcast to BOTH vector
      // fetches — the corpus-sized embedding table never shuffles
      val qe = e.toDF("query_id", "q_emb")
      val rer = e.toDF("neighbor_id", "n_emb")
        .join(broadcast(shortlist.join(qe, "query_id")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
      topK(rer, 3)
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |params AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS stride FROM e),
         |subs AS (
         |  SELECT vec_id, CAST(u.m AS INTEGER) AS m,
         |         list_slice(embedding, u.m * $PqSubDim + 1, u.m * $PqSubDim + $PqSubDim) AS sub
         |  FROM e, unnest(generate_series(0, ${PqM - 1})) AS u(m)),
         |codes AS (
         |  SELECT m, vec_id AS code_id, sub AS c_sub
         |  FROM subs, params WHERE vec_id % params.stride = 3 % params.stride),
         |encoded AS (
         |  SELECT vec_id AS neighbor_id, m, code_id FROM (
         |    SELECT s.vec_id, s.m, c.code_id,
         |           ROW_NUMBER() OVER (
         |             PARTITION BY s.vec_id, s.m
         |             ORDER BY ${l2sqSql("s.sub", "c.c_sub")} ASC, c.code_id ASC) AS crank
         |    FROM subs s JOIN codes c USING (m)) WHERE crank = 1),
         |dtable AS (
         |  SELECT s.vec_id AS query_id, s.m, c.code_id,
         |         ${l2sqSql("s.sub", "c.c_sub")} AS d
         |  FROM subs s JOIN codes c USING (m)
         |  WHERE s.vec_id % $QueryMod = 0),
         |ewide AS (
         |  SELECT e0.neighbor_id,
         |         e0.code_id AS c0, e1.code_id AS c1,
         |         e2.code_id AS c2, e3.code_id AS c3
         |  FROM (SELECT neighbor_id, code_id FROM encoded WHERE m = 0) e0
         |  JOIN (SELECT neighbor_id, code_id FROM encoded WHERE m = 1) e1 USING (neighbor_id)
         |  JOIN (SELECT neighbor_id, code_id FROM encoded WHERE m = 2) e2 USING (neighbor_id)
         |  JOIN (SELECT neighbor_id, code_id FROM encoded WHERE m = 3) e3 USING (neighbor_id)),
         |scored AS (
         |  SELECT t0.query_id, w.neighbor_id, t0.d + t1.d + t2.d + t3.d AS adc_dist
         |  FROM ewide w
         |  JOIN dtable t0 ON t0.m = 0 AND t0.code_id = w.c0
         |  JOIN dtable t1 ON t1.m = 1 AND t1.code_id = w.c1 AND t1.query_id = t0.query_id
         |  JOIN dtable t2 ON t2.m = 2 AND t2.code_id = w.c2 AND t2.query_id = t0.query_id
         |  JOIN dtable t3 ON t3.m = 3 AND t3.code_id = w.c3 AND t3.query_id = t0.query_id
         |  WHERE w.neighbor_id <> t0.query_id),
         |shortlist AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS arank
         |    FROM scored) WHERE arank <= $PqShortlist),
         |rer AS (
         |  SELECT s.query_id, s.neighbor_id,
         |         ${H.cosineSql("q.embedding", "n.embedding")} AS cosine
         |  FROM shortlist s
         |  JOIN e q ON q.vec_id = s.query_id
         |  JOIN e n ON n.vec_id = s.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM rer)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin))

  /** IVF-PQ: the production ANN composition [[pqAdc]]'s scaladoc names
    * as the scale path, now exercised as its own gated operator — the
    * IVF coarse quantizer prunes the ADC scan to the probed inverted
    * lists, so per-query approximate scoring touches ~nProbe/K of the
    * corpus (~1/8 here) instead of all of it, and each scored candidate
    * still costs only M table lookups instead of a 64-dim dot. This is
    * the FAISS IVFADC layout (Jégou et al., TPAMI 2011 §V): at 100 TB
    * the index I/O per query is (n·nProbe/K)·M bytes of codes, the only
    * full-precision reads are the [[PqShortlist]]-row re-rank.
    *
    * Plan shape: one broadcast-argmax assignment builds the inverted
    * lists (shuffle carries n pre-reduced rows); probes rank centroids
    * per query over |Q|·K rows; candidate generation joins probes to
    * code-lists on centroid_id (the only corpus-sized shuffle key);
    * ADC scoring is M broadcast distance-table lookups + a fixed-order
    * scalar sum on each candidate row; the shortlist reduces via the
    * bounded heap and broadcasts back for the exact cosine re-rank.
    * Every numeric fragment (cosine fold, l2sq kernel, left-associated
    * ADC sum) is shared with the already-gated [[annIvf]]/[[pqAdc]], so
    * the composition hash-matches by construction. */
  val annIvfPq: Q = Q(
    "sim_ann_ivf_pq",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val stride = ivfStride(e.count())
      // Three persists below (centroids, subs, dtable) live for the
      // returned frame's lifetime — cache ownership per Registry's note:
      // harnesses clearCache between queries; a long-lived caller should
      // unpersist (or clearCache) after materializing the result.
      val centroids = e.filter(col("vec_id") % stride === lit(3L % stride))
        .toDF("centroid_id", "c_emb")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nProbe = ivfNProbe(centroids.count())
      // inverted lists, keyed by coarse centroid — carries only ids here
      // (the PQ codes below are the scan payload; full vectors are never
      // joined to candidates)
      val lists = assignArgmax(e, centroids)
        .select(col("vec_id").as("neighbor_id"), col("centroid_id"))
      // PQ encode — same codebook/code discipline as pqAdc
      val subs = pqSubs(e).persist(StorageLevel.MEMORY_AND_DISK)
      val codes = subs.filter(col("vec_id") % stride === lit(3L % stride))
        .select(col("m"), col("vec_id").as("code_id"), col("sub").as("c_sub"))
      // Task-binary note (r10, PERF.md): this query is the registry's only
      // "Broadcasting large task binary" source — 8 late-plan stages at
      // 1.1–2.1 MiB, sizes growing monotonically along the ADC tail.
      // Lineage cuts (createDataFrame and localCheckpoint at `encoded`
      // and `dtable`) did NOT shrink them — the content is the live
      // physical-plan fragments of the deep pipeline, not recompute
      // lineage — and cost ~0.2 s, so they were reverted. Bounded at
      // scale: a task binary is ONE broadcast per stage fetched per
      // executor (~10 MB/run total here), not a per-task payload.
      val encoded = pqEncodeWide(subs, codes)
      val dtable = subs.filter(col("vec_id") % QueryMod === 0)
        .join(broadcast(codes), Seq("m"))
        .select(col("vec_id").as("query_id"), col("m"), col("code_id"),
          l2sq(col("sub"), col("c_sub")).as("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // candidates: probed lists only — the IVF pruning this operator adds
      val probes = probeRanks(
        e.filter(col("vec_id") % QueryMod === 0), centroids, nProbe)
        .select(col("query_id"), col("centroid_id"))
      val cands = probes.join(lists, Seq("centroid_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .join(encoded, Seq("neighbor_id"))
      // ADC over candidates: M dtable lookups + a fixed-order sum
      val scored0 = (0 until PqM).foldLeft(cands) { (acc, m) =>
        val dt = dtable.filter(col("m") === m)
          .select(col("query_id").as(s"q$m"), col("code_id").as(s"k$m"),
            col("d").as(s"d$m"))
        acc.join(broadcast(dt),
          col(s"c$m") === col(s"k$m") && col("query_id") === col(s"q$m"))
      }
      val scored = scored0.select(col("query_id"), col("neighbor_id"),
        (0 until PqM).map(m => col(s"d$m")).reduceLeft(_ + _).as("adc_dist"))
      val shortlist = scored
        .groupBy(col("query_id"))
        .agg(H.topKByScore((-col("adc_dist")).as("score"),
          col("neighbor_id"), PqShortlist).as("top"))
        .select(col("query_id"), explode(col("top")).as("p"))
        .select(col("query_id"), col("p.id").as("neighbor_id"))
      val qe = e.toDF("query_id", "q_emb")
      val rer = e.toDF("neighbor_id", "n_emb")
        .join(broadcast(shortlist.join(qe, "query_id")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
      topK(rer, 3)
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |params AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS stride FROM e),
         |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |      FROM e, params WHERE vec_id % params.stride = 3 % params.stride),
         |np AS (SELECT GREATEST(2, CAST(CEIL(COUNT(*) / 8.0) AS BIGINT)) AS nprobe FROM c),
         |assigned AS (
         |  SELECT e.vec_id, c.centroid_id,
         |         ROW_NUMBER() OVER (
         |           PARTITION BY e.vec_id
         |           ORDER BY ${H.cosineSql("e.embedding", "c.c_emb")} DESC, c.centroid_id ASC) AS crank
         |  FROM e CROSS JOIN c),
         |lists AS (
         |  SELECT vec_id AS neighbor_id, centroid_id
         |  FROM assigned WHERE crank = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, centroid_id
         |  FROM assigned WHERE vec_id % $QueryMod = 0 AND crank <= (SELECT nprobe FROM np)),
         |subs AS (
         |  SELECT vec_id, CAST(u.m AS INTEGER) AS m,
         |         list_slice(embedding, u.m * $PqSubDim + 1, u.m * $PqSubDim + $PqSubDim) AS sub
         |  FROM e, unnest(generate_series(0, ${PqM - 1})) AS u(m)),
         |codes AS (
         |  SELECT m, vec_id AS code_id, sub AS c_sub
         |  FROM subs, params WHERE vec_id % params.stride = 3 % params.stride),
         |encoded AS (
         |  SELECT vec_id AS neighbor_id, m, code_id FROM (
         |    SELECT s.vec_id, s.m, c.code_id,
         |           ROW_NUMBER() OVER (
         |             PARTITION BY s.vec_id, s.m
         |             ORDER BY ${l2sqSql("s.sub", "c.c_sub")} ASC, c.code_id ASC) AS crank
         |    FROM subs s JOIN codes c USING (m)) WHERE crank = 1),
         |ewide AS (
         |  SELECT e0.neighbor_id,
         |         e0.code_id AS c0, e1.code_id AS c1,
         |         e2.code_id AS c2, e3.code_id AS c3
         |  FROM (SELECT neighbor_id, code_id FROM encoded WHERE m = 0) e0
         |  JOIN (SELECT neighbor_id, code_id FROM encoded WHERE m = 1) e1 USING (neighbor_id)
         |  JOIN (SELECT neighbor_id, code_id FROM encoded WHERE m = 2) e2 USING (neighbor_id)
         |  JOIN (SELECT neighbor_id, code_id FROM encoded WHERE m = 3) e3 USING (neighbor_id)),
         |dtable AS (
         |  SELECT s.vec_id AS query_id, s.m, c.code_id,
         |         ${l2sqSql("s.sub", "c.c_sub")} AS d
         |  FROM subs s JOIN codes c USING (m)
         |  WHERE s.vec_id % $QueryMod = 0),
         |cands AS (
         |  SELECT p.query_id, w.neighbor_id, w.c0, w.c1, w.c2, w.c3
         |  FROM probes p
         |  JOIN lists l USING (centroid_id)
         |  JOIN ewide w ON w.neighbor_id = l.neighbor_id
         |  WHERE l.neighbor_id <> p.query_id),
         |scored AS (
         |  SELECT g.query_id, g.neighbor_id, t0.d + t1.d + t2.d + t3.d AS adc_dist
         |  FROM cands g
         |  JOIN dtable t0 ON t0.m = 0 AND t0.code_id = g.c0 AND t0.query_id = g.query_id
         |  JOIN dtable t1 ON t1.m = 1 AND t1.code_id = g.c1 AND t1.query_id = g.query_id
         |  JOIN dtable t2 ON t2.m = 2 AND t2.code_id = g.c2 AND t2.query_id = g.query_id
         |  JOIN dtable t3 ON t3.m = 3 AND t3.code_id = g.c3 AND t3.query_id = g.query_id),
         |shortlist AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS arank
         |    FROM scored) WHERE arank <= $PqShortlist),
         |rer AS (
         |  SELECT s.query_id, s.neighbor_id,
         |         ${H.cosineSql("q.embedding", "n.embedding")} AS cosine
         |  FROM shortlist s
         |  JOIN e q ON q.vec_id = s.query_id
         |  JOIN e n ON n.vec_id = s.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM rer)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin))

  /** k-NN label-consistency evaluation — the standard embedding-quality
    * probe a training-data pipeline runs before trusting a vector
    * column (FAISS-recipe "kNN classification accuracy"): each query's
    * label is predicted by MAJORITY VOTE over its exact top-5
    * neighbors' labels (vote ties to the smaller label id — fully
    * deterministic), and accuracy is reported per true label plus the
    * overall row (label −1). The scoring is the same broadcast
    * |Q|·corpus pass as [[knnBrute]] (queries broadcast, corpus never
    * shuffles); votes reduce map-side to ≤5 rows per query, the
    * accuracy table is ≤|labels|+1 rows. Exact-integer counts, one
    * double division at the end. */
  val knnLabelEval: Q = Q(
    "sim_knn_label_eval",
    (s, dir) => {
      val labels = table(s, dir, "embeddings").select(col("vec_id"), col("label"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      val top5 = scoredAll(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      val pred = top5
        .join(broadcast(labels.toDF("neighbor_id", "nlabel")), Seq("neighbor_id"))
        .groupBy(col("query_id"), col("nlabel"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("query_id"))
        .agg(max(struct(col("votes"), (-col("nlabel")).as("tb"),
          col("nlabel").as("l"))).as("m"))
        .select(col("query_id"), col("m.l").as("pred_label"))
      val graded = pred
        .join(broadcast(labels.toDF("query_id", "true_label")), Seq("query_id"))
        .withColumn("correct",
          when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
      val perLabel = graded.groupBy(col("true_label").as("label"))
        .agg(count(lit(1)).as("n_queries"), sum(col("correct")).as("n_correct"))
      val overall = graded
        .agg(count(lit(1)).as("n_queries"), sum(col("correct")).as("n_correct"))
        .select(lit(-1).as("label"), col("n_queries"), col("n_correct"))
      perLabel.unionAll(overall)
        .select(col("label"), col("n_queries"), col("n_correct"),
          (col("n_correct").cast("double") / col("n_queries").cast("double"))
            .as("accuracy"))
        .orderBy("label")
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e WHERE vec_id % $QueryMod = 0),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${H.cosineSql("q.q_emb", "e.embedding")} AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |top5 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |    FROM scored) WHERE rank <= 5),
         |votes AS (
         |  SELECT t.query_id, l.label AS nlabel, count(*) AS votes
         |  FROM top5 t JOIN embeddings l ON l.vec_id = t.neighbor_id
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT query_id, nlabel AS pred_label FROM (
         |    SELECT query_id, nlabel,
         |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, nlabel ASC) AS vr
         |    FROM votes) WHERE vr = 1),
         |graded AS (
         |  SELECT p.query_id, p.pred_label, t.label AS true_label,
         |         CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END AS correct
         |  FROM pred p JOIN embeddings t ON t.vec_id = p.query_id),
         |u AS (
         |  SELECT true_label AS label, count(*) AS n_queries,
         |         CAST(sum(correct) AS BIGINT) AS n_correct
         |  FROM graded GROUP BY 1
         |  UNION ALL
         |  SELECT -1, count(*), CAST(sum(correct) AS BIGINT) FROM graded)
         |SELECT label, n_queries, n_correct,
         |       CAST(n_correct AS DOUBLE) / CAST(n_queries AS DOUBLE) AS accuracy
         |FROM u
         |ORDER BY label""".stripMargin))

  // ------------------------------------- truncated-dimension recall

  /** Prefix width for the truncated-dimension evaluation: half the
    * embedding. */
  private val MrlPrefixDims = Dims / 2
  private val MrlK = 5

  /** Matryoshka-style truncation evaluation (Kusupati et al., NeurIPS
    * 2022): score every (query, neighbor) pair with BOTH the full-dim
    * cosine and the cosine over the first [[MrlPrefixDims]] dims, take
    * top-[[MrlK]] under each, and report per-query recall of the
    * truncated ranking against the full one. This is the measurement a
    * 100 TB retrieval stack runs before committing to a cheap
    * prefix-dim prefilter (half the bytes scanned per candidate): if
    * recall@k is high, the full-dim read can be deferred to a short
    * re-rank list.
    *
    * Plan shape: ONE |Q|·n scoring pass (queries broadcast, corpus
    * never shuffles) computes both cosines per pair — the truncated
    * variant reuses the same row, so evaluating the second metric adds
    * zero scan or shuffle. Both rankings reduce through the bounded-heap
    * [[graft.plans.TopKByScore]] in the SAME groupBy (≤ 2·k pairs per
    * query cross the shuffle), and the overlap is a per-row
    * array_intersect of two k-element id lists. Ties to the lower
    * neighbor id on both sides, matching the oracle's rank windows. */
  val mrlRecall: Q = Q(
    "sim_mrl_recall",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = e.filter(col("vec_id") % QueryMod === 0)
        .toDF("query_id", "q_emb")
      val scored = e.toDF("neighbor_id", "n_emb")
        .crossJoin(broadcast(queries))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          H.cosine(col("q_emb"), col("n_emb")).as("cos_full"),
          H.cosine(slice(col("q_emb"), 1, MrlPrefixDims),
            slice(col("n_emb"), 1, MrlPrefixDims)).as("cos_prefix"))
      scored.groupBy(col("query_id"))
        .agg(
          H.topKByScore(col("cos_full"), col("neighbor_id"), MrlK).as("tf"),
          H.topKByScore(col("cos_prefix"), col("neighbor_id"), MrlK).as("tp"))
        .select(col("query_id"),
          size(array_intersect(
            transform(col("tf"), x => x.getField("id")),
            transform(col("tp"), x => x.getField("id"))))
            .cast("long").as("hits"))
        .select(col("query_id"), col("hits"),
          (col("hits").cast("double") / lit(MrlK.toDouble)).as("recall_at_k"))
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |      FROM e WHERE vec_id % $QueryMod = 0),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${H.cosineSql("q.q_emb", "e.embedding")} AS cos_full,
         |         ${H.cosineSql(s"q.q_emb[1:$MrlPrefixDims]", s"e.embedding[1:$MrlPrefixDims]")} AS cos_prefix
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |rf AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (
         |           PARTITION BY query_id ORDER BY cos_full DESC, neighbor_id ASC) AS rk
         |  FROM scored),
         |rp AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (
         |           PARTITION BY query_id ORDER BY cos_prefix DESC, neighbor_id ASC) AS rk
         |  FROM scored),
         |ov AS (
         |  SELECT rf.query_id, count(*) AS hits
         |  FROM rf JOIN rp
         |    ON rf.query_id = rp.query_id AND rf.neighbor_id = rp.neighbor_id
         |  WHERE rf.rk <= $MrlK AND rp.rk <= $MrlK
         |  GROUP BY rf.query_id)
         |SELECT q.query_id, CAST(COALESCE(ov.hits, 0) AS BIGINT) AS hits,
         |       CAST(COALESCE(ov.hits, 0) AS DOUBLE) / $MrlK.0 AS recall_at_k
         |FROM q LEFT JOIN ov USING (query_id)
         |ORDER BY query_id""".stripMargin))

  // ------------------------------------- nearest-centroid classifier

  /** Nearest-centroid classification (Rocchio): per-label centroid =
    * per-dim mean of that label's vectors, every vector assigned to the
    * most-cosine-similar centroid, output = the confusion matrix
    * (true label × predicted label × count). The cheap O(n·L) sibling
    * of [[knnLabelEval]]'s O(|Q|·n) kNN vote — the shape used to sanity-
    * check embedding quality over a full 100 TB corpus, where kNN is
    * reserved for sampled query sets.
    *
    * Plan shape: the centroid build is one posexplode + (L·dims)-group
    * aggregate; means use the order-pinned sorted fold (the same
    * bit-reproducibility discipline — and the same stated trade-off —
    * as [[annIvfKmeans]]'s Lloyd update: a production run that accepts
    * non-bitwise means uses an O(1)-state sum/count partial aggregate).
    * Assignment broadcasts the L-row centroid table and reduces via the
    * partial-aggregating argmax ([[assignArgmax]]), so the shuffle
    * carries n pre-reduced rows; the confusion matrix folds map-side to
    * ≤ L² rows. */
  /** Per-label centroids via the order-pinned sorted-fold per-dim mean
    * — shared by [[centroidClassify]] and [[silhouette]]; same
    * bit-reproducibility discipline (and the same stated trade-off) as
    * [[annIvfKmeans]]'s Lloyd update. */
  private def labelCentroids(e: DataFrame): DataFrame = {
    val dimMeans = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(collect_list(col("v").cast("double")).as("vs"),
        count(lit(1)).as("cnt"))
      .select(col("label"), col("pos"),
        (aggregate(array_sort(col("vs")), lit(0.0), (a, x) => a + x) / col("cnt"))
          .cast("float").as("mean"))
    dimMeans.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("label").cast("long").as("centroid_id"),
        transform(col("pm"), x => x.getField("mean")).as("c_emb"))
  }

  /** Oracle CTEs `m`/`c` producing the same per-label centroid table
    * from an `e(vec_id, embedding, label)` CTE. */
  private val ddbLabelCentroids =
    s"""m AS (
       |  SELECT CAST(e.label AS BIGINT) AS centroid_id, p.pos,
       |         CAST(${H.foldSumSql("list_sort(list(CAST(e.embedding[p.pos] AS DOUBLE)))")} / COUNT(*) AS REAL) AS mean
       |  FROM e, (SELECT unnest(generate_series(1, $Dims)) AS pos) p
       |  GROUP BY 1, 2),
       |c AS (SELECT centroid_id, list(mean ORDER BY pos) AS c_emb
       |      FROM m GROUP BY centroid_id)""".stripMargin

  val centroidClassify: Q = Q(
    "sim_centroid_classify",
    (s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val centroids = labelCentroids(e)
      val assigned = assignArgmax(e.select(col("vec_id"), col("embedding")), centroids)
        .select(col("vec_id"), col("centroid_id").as("pred_label"))
      e.select(col("vec_id"), col("label").cast("long").as("true_label"))
        .join(assigned, "vec_id")
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |$ddbLabelCentroids,
         |a AS (
         |  SELECT e.vec_id, c.centroid_id AS pred_label,
         |         ROW_NUMBER() OVER (
         |           PARTITION BY e.vec_id
         |           ORDER BY ${H.cosineSql("e.embedding", "c.c_emb")} DESC, c.centroid_id ASC) AS crank
         |  FROM e CROSS JOIN c)
         |SELECT CAST(e.label AS BIGINT) AS true_label, a.pred_label,
         |       count(*) AS n
         |FROM e JOIN a ON a.vec_id = e.vec_id AND a.crank = 1
         |GROUP BY 1, 2
         |ORDER BY true_label, pred_label""".stripMargin))

  // --------------------------------------------- cluster silhouette

  /** Simplified silhouette over the label clustering (Hruschka et al.'s
    * centroid-based variant of Rousseeuw 1987): per vector, a = L2
    * distance to its OWN label's centroid, b = the nearest OTHER
    * centroid's distance, silhouette = (b − a) / max(a, b) ∈ [−1, 1].
    * The classical silhouette's mean-pairwise-distance terms are O(n²)
    * — the centroid variant is the form that survives a full-corpus
    * embedding-quality audit at 100 TB: one broadcast of the L-row
    * centroid table, n·L per-row distance evaluations, and a
    * partial-aggregating (vec, label) fold that reduces each vector's
    * L candidate rows to one map-side. Output is per-vector (pure
    * row-wise arithmetic after the fold — no double-mean accumulation
    * anywhere, so the hash gate holds bit-exactly). */
  val silhouette: Q = Q(
    "sim_silhouette",
    (s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val d = e.select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding"))
        .crossJoin(broadcast(labelCentroids(e)))
        .select(col("vec_id"), col("label"), col("centroid_id"),
          sqrt(l2sq(col("embedding"), col("c_emb"))).as("dist"))
      d.groupBy(col("vec_id"), col("label"))
        .agg(
          max(when(col("centroid_id") === col("label"), col("dist"))).as("a_dist"),
          min(when(col("centroid_id") =!= col("label"), col("dist"))).as("b_dist"))
        .select(col("vec_id"), col("label"), col("a_dist"), col("b_dist"),
          ((col("b_dist") - col("a_dist")) / greatest(col("a_dist"), col("b_dist")))
            .as("silhouette"))
        .orderBy("vec_id")
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |$ddbLabelCentroids,
         |d AS (
         |  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label, c.centroid_id,
         |         sqrt(${l2sqSql("e.embedding", "c.c_emb")}) AS dist
         |  FROM e CROSS JOIN c),
         |s AS (
         |  SELECT vec_id, label,
         |         max(CASE WHEN centroid_id = label THEN dist END) AS a_dist,
         |         min(CASE WHEN centroid_id <> label THEN dist END) AS b_dist
         |  FROM d GROUP BY 1, 2)
         |SELECT vec_id, label, a_dist, b_dist,
         |       (b_dist - a_dist) / greatest(a_dist, b_dist) AS silhouette
         |FROM s
         |ORDER BY vec_id""".stripMargin))

  /** MMR knobs: candidate shortlist size, picks, relevance weight. */
  private val MmrCands = 8
  private val MmrPicks = 3
  private val MmrLambda = "0.7"

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    * — the diversification pass a retrieval/RAG pipeline runs AFTER
    * ANN: from each query's top-[[MmrCands]] shortlist, greedily pick
    * [[MmrPicks]] results maximizing λ·rel(c) − (1−λ)·max_{s∈S}
    * sim(c,s), so near-duplicate hits don't crowd the context window.
    *
    * The greedy loop is inherently sequential in k but k is tiny and
    * FIXED: each round is an anti-join (drop picked), a max-sim fold
    * over the shortlist's pairwise-cosine table, and one argmax window
    * — all on frames of ≤|Q|·[[MmrCands]] rows. The expensive part
    * (scoring + pairwise cosines) happens ONCE before the loop, is
    * persisted, AND enters the loop as lineage-cut LogicalRDD leaves —
    * the graph-loop discipline (graph_bfs_reach, pagerank): each round
    * references the shortlist 2× and the running selection 3×, and
    * over uncut inputs Catalyst re-analyzes the embedded |Q|·n scoring
    * tree per reference (measured 10.0 s uncut vs 2.4 s cut at sf0.1
    * — vs sim_knn_brute's 0.38 s for the scoring itself). At 100 TB
    * the shortlist comes from the ANN family instead of the exact
    * scorer — the loop's cost is unchanged (per-query constant).
    *
    * Float discipline: scores are λ·rel − (1−λ)·maxsim over
    * hash-exact cosines (the family's ArrayCosine twin), MAX is
    * order-free, literals are CAST(.. AS DOUBLE) on both sides, ties
    * break by candidate id — every round's argmax is bit-determined. */
  val rerankMmr: Q = Q(
    "sim_rerank_mmr",
    (s, dir) => {
      // r20: the cut is localCheckpoint (see DedupQueries.cutLineage) —
      // the checkpoint stores the InternalRows itself, so the old
      // persist-under-the-cut (materialized once during checkpointing,
      // then bypassed by every LogicalRDD scan) is dropped.
      def cut(df: DataFrame): DataFrame =
        df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      val cands = cut(scoredAll(s, dir)
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= MmrCands)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("cosine").as("rel")))
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val ce = cands
        .join(emb, col("cand_id") === col("vec_id"))
        .select(col("query_id"), col("cand_id"), col("embedding").as("cemb"))
      val sim = cut(ce.toDF("query_id", "ci", "ei")
        .join(ce.toDF("query_id", "cj", "ej"), Seq("query_id"))
        .filter(col("ci") =!= col("cj"))
        .select(col("query_id"), col("ci"), col("cj"),
          H.cosine(col("ei"), col("ej")).as("s")))
      val lam = lit(MmrLambda.toDouble)
      val pickW = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      def argmax(scored: DataFrame, k: Int): DataFrame = scored
        .withColumn("rn", row_number().over(pickW))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), lit(k).as("pick_idx"),
          col("rel"), col("score"))
      var sel = argmax(
        cands.withColumn("score", lam * col("rel") - (lit(1.0) - lam) * lit(0.0)), 1)
      for (k <- 2 to MmrPicks) {
        val rem = cands.join(sel.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
        val ms = sim
          .join(sel.select(col("query_id"), col("cand_id").as("cj")),
            Seq("query_id", "cj"))
          .groupBy(col("query_id"), col("ci")).agg(max(col("s")).as("ms"))
        val scored = rem.alias("r")
          .join(ms.alias("m"),
            col("r.query_id") === col("m.query_id") &&
              col("r.cand_id") === col("m.ci"),
            "left_outer")
          .select(col("r.query_id").as("query_id"), col("r.cand_id").as("cand_id"),
            col("r.rel").as("rel"),
            (lam * col("r.rel") - (lit(1.0) - lam) * coalesce(col("m.ms"), lit(0.0)))
              .as("score"))
        sel = sel.unionAll(argmax(scored, k))
      }
      sel
    },
    Some {
      val lam = s"CAST($MmrLambda AS DOUBLE)"
      def pick(src: String, k: Int) =
        s"""p$k AS (
           |  SELECT query_id, cand_id, $k AS pick_idx, rel, score FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, cand_id ASC) AS rn FROM $src)
           |  WHERE rn = 1)""".stripMargin
      def round(k: Int): String = {
        val selSoFar = (1 until k).map(i => s"SELECT query_id, cand_id FROM p$i")
          .mkString(" UNION ALL ")
        s"""rem$k AS (
           |  SELECT c.* FROM cand c
           |  WHERE NOT EXISTS (SELECT 1 FROM ($selSoFar) s
           |                    WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)),
           |ms$k AS (
           |  SELECT sim.query_id, ci, MAX(s) AS ms
           |  FROM sim JOIN ($selSoFar) sel
           |    ON sel.query_id = sim.query_id AND sel.cand_id = sim.cj
           |  GROUP BY sim.query_id, ci),
           |sc$k AS (
           |  SELECT r.query_id, r.cand_id, r.rel,
           |         $lam * r.rel - (1.0 - $lam) * COALESCE(ms, 0.0) AS score
           |  FROM rem$k r LEFT JOIN ms$k m
           |    ON m.query_id = r.query_id AND m.ci = r.cand_id),
           |${pick(s"sc$k", k)}""".stripMargin
      }
      val rounds = (2 to MmrPicks).map(round).mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e WHERE vec_id % $QueryMod = 0),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${H.cosineSql("q.q_emb", "e.embedding")} AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |cand AS MATERIALIZED (
         |  SELECT query_id, neighbor_id AS cand_id, cosine AS rel FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS r FROM scored)
         |  WHERE r <= $MmrCands),
         |ce AS (
         |  SELECT query_id, cand_id, embedding AS cemb
         |  FROM cand JOIN e ON cand_id = vec_id),
         |sim AS MATERIALIZED (
         |  SELECT a.query_id, a.cand_id AS ci, b.cand_id AS cj,
         |         ${H.cosineSql("a.cemb", "b.cemb")} AS s
         |  FROM ce a JOIN ce b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
         |s1 AS (
         |  SELECT query_id, cand_id, rel,
         |         $lam * rel - (1.0 - $lam) * 0.0 AS score FROM cand),
         |${pick("s1", 1)},
         |$rounds
         |SELECT * FROM (${(1 to MmrPicks).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")})
         |ORDER BY query_id, pick_idx""".stripMargin
    })

  /** Probe counts swept by [[nprobeSweep]]. */
  private val NprobeGrid = Seq(1L, 2L, 4L, 8L)

  /** IVF nprobe recall/cost sweep — the tuning table an ANN deployment
    * is actually configured from: for each probe count, the candidate
    * pairs scanned (the cost axis) and exact recall@3 against the
    * brute-force truth (the quality axis). One number per knob setting;
    * the curve's knee picks production nprobe. Everything expensive is
    * computed ONCE and shared: the n×K assignment, the inverted lists,
    * the per-query probe ranks up to max(grid), and the brute top-3 —
    * all persisted lineage-cut leaves (the unrolled-loop discipline);
    * each grid point is then a filter + join + 1-row fold. Recall and
    * counts are exact integers; the single division per row is
    * hits/(3·|Q|). */
  val nprobeSweep: Q = Q(
    "sim_ivf_nprobe_sweep",
    (s, dir) => {
      // r20: localCheckpoint cut, persists-under-the-cut dropped (see
      // DedupQueries.cutLineage — the checkpoint is the store).
      def cut(df: DataFrame): DataFrame =
        df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val stride = ivfStride(e.count())
      val centroids = e.filter(col("vec_id") % stride === lit(3L % stride))
        .toDF("centroid_id", "c_emb")
      val lists = cut(assignArgmax(e, centroids)
        .toDF("neighbor_id", "n_emb", "centroid_id"))
      val queries = e.filter(col("vec_id") % QueryMod === 0)
      val nQ = queries.count()
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("centroid_id").asc)
      val pr = cut(scoredCentroids(queries, centroids)
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= NprobeGrid.max)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("centroid_id"), col("crank")))
      val brute = cut(topK(scoredAll(s, dir), 3)
        .select(col("query_id"), col("neighbor_id")))
      val rows = NprobeGrid.map { np =>
        val scored = pr.filter(col("crank") <= np)
          .join(lists, Seq("centroid_id"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
        val nScored = scored.agg(count(lit(1)).as("n_scored"))
        val hits = topK(scored, 3)
          .select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
        nScored.crossJoin(hits)
          .select(lit(np).as("nprobe"), col("n_scored"), col("hits"),
            (col("hits").cast("double") / lit(3L * nQ).cast("double"))
              .as("recall_at_3"))
      }
      rows.reduce(_ unionAll _).orderBy("nprobe")
    },
    Some {
      val perNp = NprobeGrid.map { np =>
        s"""sc$np AS (
           |  SELECT p.query_id, l.neighbor_id,
           |         ${H.cosineSql("p.q_emb", "l.n_emb")} AS cosine
           |  FROM probes p JOIN lists l USING (centroid_id)
           |  WHERE p.crank <= $np AND l.neighbor_id <> p.query_id),
           |ann$np AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY query_id
           |             ORDER BY cosine DESC, neighbor_id ASC) AS rank
           |    FROM sc$np) WHERE rank <= 3),
           |row$np AS (
           |  SELECT $np AS nprobe,
           |         (SELECT count(*) FROM sc$np) AS n_scored,
           |         (SELECT count(*) FROM ann$np a JOIN brute b
           |            USING (query_id, neighbor_id)) AS hits)""".stripMargin
      }.mkString(",\n")
      val unioned = NprobeGrid.map(np => s"SELECT * FROM row$np")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |params AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS stride FROM e),
         |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |      FROM e, params WHERE vec_id % params.stride = 3 % params.stride),
         |assigned AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |         ROW_NUMBER() OVER (
         |           PARTITION BY e.vec_id
         |           ORDER BY ${H.cosineSql("e.embedding", "c.c_emb")} DESC, c.centroid_id ASC) AS crank
         |  FROM e CROSS JOIN c),
         |lists AS MATERIALIZED (
         |  SELECT vec_id AS neighbor_id, embedding AS n_emb, centroid_id
         |  FROM assigned WHERE crank = 1),
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS query_id, embedding AS q_emb, centroid_id, crank
         |  FROM assigned WHERE vec_id % $QueryMod = 0 AND crank <= ${NprobeGrid.max}),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e WHERE vec_id % $QueryMod = 0),
         |nq AS (SELECT count(*) AS nq FROM q),
         |bscored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${H.cosineSql("q.q_emb", "e.embedding")} AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |brute AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |    FROM bscored) WHERE rank <= 3),
         |$perNp
         |SELECT nprobe, n_scored, hits,
         |       CAST(hits AS DOUBLE) / CAST(3 * nq AS DOUBLE) AS recall_at_3
         |FROM ($unioned) CROSS JOIN nq
         |ORDER BY nprobe""".stripMargin
    })

  // ------------------------------------------- build-once / probe-many

  /** On-disk home for the persisted IVF artifacts, keyed by the source
    * data dir (distinct SFs get distinct indexes). Relative to the
    * working directory (the harnesses run from the repo root), so
    * nothing is written outside the project tree. */
  private def indexRoot(dir: String): String =
    "target/simindex/" + dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Builds the IVF index of [[annIvf]] and PERSISTS the artifacts to
    * parquet: the √n-strided coarse centroids and the inverted lists
    * (every vector with its assigned centroid id). One corpus pass
    * (broadcast argmax assignment), two writes. Returns the root. */
  private def buildIndex(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = indexRoot(dir)
    val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val stride = ivfStride(e.count())
    val centroids = e.filter(col("vec_id") % stride === lit(3L % stride))
      .toDF("centroid_id", "c_emb")
    val lists = assignArgmax(e, centroids)
    centroids.write.mode("overwrite").parquet(s"$root/centroids")
    lists.write.mode("overwrite").parquet(s"$root/lists")
    // PQ tier of the artifact (r12 verdict task 5): the codebooks
    // (M×K stride-sampled subvectors) and the corpus codes (one wide
    // row of M small ints per vector) persist beside the IVF lists, so
    // probes never re-run the corpus-sized encode. At 100 TB the codes
    // table IS the scanned index — M bytes/vector instead of the full
    // embedding — and it is exactly what [[pqAdc]] computes in-query.
    val subs = pqSubs(e).persist(StorageLevel.MEMORY_AND_DISK)
    val codes = subs.filter(col("vec_id") % stride === lit(3L % stride))
      .select(col("m"), col("vec_id").as("code_id"), col("sub").as("c_sub"))
    codes.write.mode("overwrite").parquet(s"$root/pq_codebooks")
    pqEncodeWide(subs, codes).write.mode("overwrite").parquet(s"$root/pq_codes")
    subs.unpersist()
    root
  }

  /** The production vector-store shape is build-once/probe-many — every
    * other `sim_*` query rebuilds its index in-query because the gate
    * runs each query standalone (round-10 verdict task 7 named the
    * split). This pair separates the phases: `sim_index_build` runs the
    * one corpus-touching pass and writes the IVF artifacts (centroids +
    * inverted lists) to parquet; its gated OUTPUT is read back from the
    * PERSISTED lists — per-centroid member count and exact member-id
    * sum — so what the oracle hash-checks is the on-disk artifact, not
    * the in-flight frame (a lossy write would fail here, not at probe
    * time). At 100 TB the build is the indexing job (one n×K broadcast
    * argmax, K≈√n); everything downstream probes the artifact.
    * Persisting the PQ tier added ~55% to this build's bench time
    * (1.25 → 1.94 s, r13) — that is the indexing-side cost the probes
    * avoid re-paying, not a regression in the IVF build itself. */
  val indexBuild: Q = Q(
    "sim_index_build",
    (s, dir) => {
      val root = buildIndex(s, dir)
      parquet(s, s"$root/lists")
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("vec_id")).cast("long").as("member_id_sum"))
        .orderBy("centroid_id")
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |params AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS stride FROM e),
         |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |      FROM e, params WHERE vec_id % params.stride = 3 % params.stride),
         |assigned AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |           ROW_NUMBER() OVER (
         |             PARTITION BY e.vec_id
         |             ORDER BY ${H.cosineSql("e.embedding", "c.c_emb")} DESC, c.centroid_id ASC) AS crank
         |    FROM e CROSS JOIN c) WHERE crank = 1)
         |SELECT centroid_id, count(*) AS n_members,
         |       CAST(SUM(vec_id) AS BIGINT) AS member_id_sum
         |FROM assigned
         |GROUP BY centroid_id
         |ORDER BY centroid_id""".stripMargin))

  /** The probe half: top-3 ANN per query answered from the PERSISTED
    * index — reads the centroids and inverted-list parquet plus the
    * query subset of `embeddings`, and never re-derives an assignment
    * (the corpus-sized argmax belongs to the build). Plan shape (pinned
    * in PlanShapeSpec): exactly three parquet scans — centroids, lists,
    * query rows — one rank window over the |Q|·K probe scores, and the
    * candidate join shuffles on centroid_id. Builds the index first
    * only if the artifact is absent (standalone-run safety; the build
    * query always rebuilds, and both harnesses run build before probe
    * alphabetically). Result is [[annIvf]]'s, so the SAME oracle gates
    * it — passing proves the artifact round-trip preserved the index
    * exactly. */
  val indexProbe: Q = Q(
    "sim_index_probe",
    (s, dir) => {
      val root = indexRoot(dir)
      if (!new java.io.File(s"$root/lists/_SUCCESS").exists()) buildIndex(s, dir)
      val centroids = parquet(s, s"$root/centroids")
      val lists = parquet(s, s"$root/lists")
        .toDF("neighbor_id", "n_emb", "centroid_id")
      val nProbe = ivfNProbe(centroids.count())
      val probes = probeRanks(
        table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") % QueryMod === 0),
        centroids, nProbe)
      val scored = probes.join(lists, Seq("centroid_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
      topK(scored, 3)
    },
    annIvf.oracle)

  /** The PQ half of the build-once/probe-many split (r12 verdict task
    * 5): [[pqAdc]] rebuilds its codebooks and corpus codes in-query
    * every run — the corpus-sized encode is an INDEXING cost and
    * belongs to `sim_index_build`. This probe answers the same ADC
    * query reading the PERSISTED `pq_codebooks`/`pq_codes` parquet:
    * the only per-query work is the |Q|·M·K distance table (computed
    * from the query rows and the broadcast codebooks), M broadcast
    * table-lookup joins over the code rows, the bounded-heap
    * shortlist, and the [[PqShortlist]]-row exact re-rank — the full-
    * precision corpus is touched only by that broadcast-pruned fetch
    * (the vector store's fetch-by-id), never encoded or shuffled.
    *
    * Plan shape (pinned in PlanShapeSpec): the probe scans the
    * `pq_codebooks`/`pq_codes` artifacts plus query-side/fetch reads
    * of `embeddings`; the four ADC lookups read the CACHED distance
    * table (four InMemoryTableScans), and the corpus re-encode
    * signatures — the pivot aggregate and the per-subspace argmax —
    * appear nowhere. Result is [[pqAdc]]'s, so the SAME oracle gates it —
    * passing proves the artifact round-trip preserved codebooks and
    * codes exactly (same discipline as [[indexProbe]]/[[annIvf]]).
    *
    * Cache ownership (Registry's note): the |Q|·M·K distance table is
    * persist()ed for the returned frame's lifetime and cannot be
    * unpersisted here (the four ADC lookups read it lazily); harnesses
    * clearCache between queries, and a long-lived caller should
    * unpersist/clearCache after materializing — same convention as
    * [[pqAdc]]'s in-query distance table. */
  val pqIndexProbe: Q = Q(
    "sim_index_pq_probe",
    (s, dir) => {
      val root = indexRoot(dir)
      if (!new java.io.File(s"$root/pq_codes/_SUCCESS").exists()) buildIndex(s, dir)
      val codebooks = parquet(s, s"$root/pq_codebooks")
      val codes = parquet(s, s"$root/pq_codes")
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // query-side subvectors only — |Q| rows, not the corpus
      val qsubs = pqSubs(e.filter(col("vec_id") % QueryMod === 0))
      val dtable = qsubs.join(broadcast(codebooks), Seq("m"))
        .select(col("vec_id").as("query_id"), col("m"), col("code_id"),
          l2sq(col("sub"), col("c_sub")).as("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // ADC over the persisted codes: M broadcast lookups + the same
      // fixed-order left-associated sum as pqAdc (oracle parity)
      val scored0 = (0 until PqM).foldLeft(codes) { (acc, m) =>
        val dt = dtable.filter(col("m") === m)
          .select(col("query_id").as(s"q$m"), col("code_id").as(s"k$m"),
            col("d").as(s"d$m"))
        val cond =
          if (m == 0) col(s"c$m") === col(s"k$m")
          else col(s"c$m") === col(s"k$m") && col("q0") === col(s"q$m")
        acc.join(broadcast(dt), cond)
      }
      val scored = scored0
        .filter(col("neighbor_id") =!= col("q0"))
        .select(col("q0").as("query_id"), col("neighbor_id"),
          (0 until PqM).map(m => col(s"d$m")).reduceLeft(_ + _).as("adc_dist"))
      val shortlist = scored
        .groupBy(col("query_id"))
        .agg(H.topKByScore((-col("adc_dist")).as("score"),
          col("neighbor_id"), PqShortlist).as("top"))
        .select(col("query_id"), explode(col("top")).as("p"))
        .select(col("query_id"), col("p.id").as("neighbor_id"))
      val qe = e.toDF("query_id", "q_emb")
      val rer = e.toDF("neighbor_id", "n_emb")
        .join(broadcast(shortlist.join(qe, "query_id")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          H.cosine(col("q_emb"), col("n_emb")).as("cosine"))
      topK(rer, 3)
    },
    pqAdc.oracle)

  def all: Seq[Q] =
    Seq(knnBrute, knnTopK, annLsh, annIvf, annIvfKmeans, quantizeInt8, pqAdc,
      annIvfPq, knnLabelEval, mrlRecall, centroidClassify, silhouette,
      rerankMmr, nprobeSweep, indexBuild, indexProbe, pqIndexProbe)
}
