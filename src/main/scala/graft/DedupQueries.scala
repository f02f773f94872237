package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Registry.Q
import graft.etl.Sources.table
import graft.functions.{HashFunctions => H, TextFunctions => T}

/** Deduplication operators for the training-data pipeline: exact
  * (hash-groupBy), word-n-gram Jaccard (inverted-index join), MinHash+LSH
  * (banded signatures), SimHash (Hamming LSH), and embedding-cosine
  * near-dup (sign-LSH buckets). Every stage is a distributed
  * DataFrame plan — shingle explode → shuffle on shingle/band/bucket —
  * with no driver-side loops, and every query hash-matches a DuckDB
  * oracle built from the same hash constants.
  *
  * The testdata documents/embeddings contain no true duplicates, so each
  * query plants deterministic copies in-query (exact copies of doc_id%7,
  * near copies with an appended trailer for doc_id%11, vector copies for
  * vec_id%13) — the same in-query fixture pattern the ETL pipelines use.
  */
object DedupQueries {

  private val Trailer = " near duplicate trailer appended for dedup testing"

  /** The dedup corpus: documents ∪ exact copies (%7) ∪ near copies (%11). */
  // r20 A/B note: scattering this scan (Sources.scatter, the fix that
  // won 2-3x on the ETL loads) was measured a NET LOSS here — paired
  // isolated runs, stage-probe-flat window: dedup_exact 0.46→0.80 s,
  // dedup_ngram_jaccard 1.07x, dedup_minhash_lsh 1.10x, graph_kcore
  // 1.24x (all corpus-scatter-only paths). The corpus consumers reach
  // their first natural exchange (df-cap window on h / fingerprint
  // groupBy) after per-doc work that is far lighter than the ETL
  // loads' string synthesis, so the extra exchange + lost
  // scan-pipeline fusion outweighs 3→32-task parallelism at bench
  // scale. Reverted; recorded so it is not re-proposed untested.
  def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionAll(
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionAll(
        d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(col("text"), lit(Trailer)).as("text")))
  }

  private val ddbCorpus =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 2000000, text || '$Trailer' FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  // ------------------------------------------------------------ exact

  /** Exact dedup: group by content fingerprint (at scale you shuffle the
    * 128-bit hash, never the raw text), keep the smallest doc_id. */
  val exact: Q = Q(
    "dedup_exact",
    (s, dir) => corpus(s, dir)
      .groupBy(T.fingerprintMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      ,
    Some(
      s"""WITH $ddbCorpus
         |SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
         |FROM corpus
         |GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |ORDER BY keeper_id""".stripMargin))

  /** Exact-dup rate per provenance source — the report a curation team
    * reads before deciding which feeds to throttle (a source shipping
    * 30% copies is a crawler bug, not a corpus). Replica doc_ids map
    * back to their original (mod the replica offset) to recover the
    * source; one groupBy(source) with an exact COUNT(DISTINCT fp) —
    * the fp shuffle carries 128-bit digests, never text. */
  val dupRateBySource: Q = Q(
    "dedup_rate_by_source",
    (s, dir) => {
      val c = corpus(s, dir)
        .select((col("doc_id") % 1000000L).as("orig_id"),
          T.fingerprintMd5(col("text")).as("fp"))
      val src = table(s, dir, "documents")
        .select(col("doc_id").as("orig_id"), col("source"))
      c.join(src, Seq("orig_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          (lit(1.0) - col("n_unique").cast("double") /
            col("n_docs").cast("double")).as("dup_rate"))
    },
    Some(
      s"""WITH $ddbCorpus,
         |m AS (
         |  SELECT d.source,
         |         md5(regexp_replace(lower(trim(c.text)), '\\s+', ' ', 'g')) AS fp
         |  FROM corpus c
         |  JOIN documents d ON d.doc_id = c.doc_id % 1000000)
         |SELECT source, count(*) AS n_docs,
         |       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         |       1.0 - CAST(count(DISTINCT fp) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE) AS dup_rate
         |FROM m
         |GROUP BY source
         |ORDER BY source""".stripMargin))

  // ---------------------------------------------------- n-gram Jaccard

  /** Document-frequency cap on shingles: a shingle shared by k docs
    * contributes k² candidate pairs to the inverted-index self-join, so
    * one hot boilerplate phrase ("click here to subscribe") makes the
    * join quadratic on a real web corpus. Shingles with df above the cap
    * carry no near-dup signal (they are boilerplate by definition) and
    * are dropped BEFORE the join — from the Jaccard universe and the
    * MinHash signatures alike, with the oracle mirroring the same
    * filter. 128 is above the max organic df in the testdata at the
    * verification scale (46 at sf0.01, so results there are unchanged)
    * while catching planted boilerplate at sf0.1 (the near-dup trailer,
    * df 455). The drop is not silent: [[shingleDfCapReport]] is an
    * oracle-checked query reporting how much the cap removed. */
  val ShingleDfCap = 128

  /** Uncapped exploded distinct hashed shingles of a (doc_id, text)
    * frame. Shingles travel as 64-bit hashes, never strings: cheaper
    * equality, smaller shuffle, same Jaccard modulo ~2^-30 collisions —
    * and the oracle computes the identical hashes. The text→shingles
    * step is the native one-pass kernel (plans.ShingleHashes). */
  def rawShingleIndexOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(H.shingleHashesOfTokens(T.tokens(col("text")))).as("h"))

/** The inverted index the joins consume: [[rawShingleIndexOf]] minus
    * shingles hotter than [[ShingleDfCap]]. The df window shuffles on
    * the shingle hash — the same key the candidate join shuffles on.
    *
    * Round-9 A/B note: a broadcast-anti-join formulation of the cap
    * (groupBy h → hot set → left_anti, no posting sort) was built,
    * oracle-verified, and measured ~15-20% SLOWER across the 12
    * consumer queries at sf0.1 — shingles are nearly unique, so the
    * hot-set groupBy's partial aggregation reduces almost nothing and
    * the extra full aggregation pass costs more than the window's
    * in-shuffle sort. Recorded so it is not re-proposed untested. */
  def shingleIndexOf(docs: DataFrame, cap: Int = ShingleDfCap): DataFrame = {
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    rawShingleIndexOf(docs)
      .withColumn("df", count(lit(1)).over(byShingle))
      .filter(col("df") <= cap)
      .drop("df")
  }

  private def rawShingleIndex(s: SparkSession, dir: String): DataFrame =
    rawShingleIndexOf(corpus(s, dir))

  private def shingleIndex(s: SparkSession, dir: String): DataFrame =
    shingleIndexOf(corpus(s, dir))

  /** DuckDB subquery producing the (doc_id, h) shingle index of `src` —
    * THE single source of truth for the oracle-side index; every oracle
    * that needs one (ngram/minhash CTE chain, decontamination's two
    * sides) builds from here so the shingle width / hash constants /
    * cap can never silently diverge between them. */
  private def ddbShingleIx(src: String, capped: Boolean): String = {
    val body =
      s"""SELECT doc_id, unnest(s) AS h FROM (
         |    SELECT doc_id, ${H.shingleHashesSql("hs")} AS s FROM (
         |      SELECT doc_id, list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'), tok -> ${T.polyHashSql("tok")}) AS hs
         |      FROM $src))""".stripMargin
    if (capped)
      s"""(SELECT doc_id, h FROM ($body)
         | QUALIFY count(*) OVER (PARTITION BY h) <= $ShingleDfCap)""".stripMargin
    else s"($body)"
  }

  private val ddbShingleIndex =
    s"ex AS (SELECT doc_id, h FROM ${ddbShingleIx("corpus", capped = true)} gx)"

  /** No-silent-caps report: how many distinct shingles (and how many
    * index postings) the df-cap removed. 0/0 at the verification scale;
    * nonzero exactly when boilerplate would otherwise blow up the join. */
  val shingleDfCapReport: Q = Q(
    "dedup_shingle_dfcap",
    (s, dir) => rawShingleIndex(s, dir)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .agg(
        sum(when(col("df") > ShingleDfCap, 1L).otherwise(0L))
          .as("dropped_shingles"),
        sum(when(col("df") > ShingleDfCap, col("df")).otherwise(0L))
          .as("dropped_postings")),
    Some(
      s"""WITH $ddbCorpus,
         |dfs AS (SELECT h, count(*) AS df FROM ${ddbShingleIx("corpus", capped = false)} rx GROUP BY h)
         |SELECT CAST(sum(CASE WHEN df > $ShingleDfCap THEN 1 ELSE 0 END) AS BIGINT) AS dropped_shingles,
         |       CAST(sum(CASE WHEN df > $ShingleDfCap THEN df ELSE 0 END) AS BIGINT) AS dropped_postings
         |FROM dfs""".stripMargin))

  /** N-gram Jaccard candidate pairs (i < j, jaccard ≥ 0.6) — the shared
    * plan behind [[ngramJaccard]] and [[clusters]]. One shuffle on the
    * shingle, one on the pair — no O(n²) cross join. */
  private[graft] def ngramPairs(s: SparkSession, dir: String): DataFrame = {
    // The inverted index feeds three plan branches (sizes + both join
    // sides); persist it so the corpus scan + shingle explode runs
    // once — the build-once property is pinned in PlanShapeSpec.
    // Round-9 A/B (PERF.md): a persist-free one-shuffle reformulation
    // (group postings into per-shingle doc lists, emit pairs + size
    // markers from one generator) was built, verified, and measured
    // UNIFORMLY 10-25% slower across the 12 consumer queries — the
    // collect_list aggregation falls back to sort-based at realistic
    // group counts, costing more than the self-join it saves — so the
    // persisted-index shape stays. Persist level (twice-reversed, both
    // times on measurement): DISK_ONLY was tried for zero heap rent
    // (the r8-driver-sweep degradation hypothesis) and measured equal
    // on a healthy box — but later same-session runs showed a 1.5-3x
    // HEAVY TAIL on DISK_ONLY iterative consumers (label_prop medians
    // 8.6/13.3/22.0 s vs MEMORY_AND_DISK's stable 7.1-7.8; PERF.md)
    // — every index read pays block-fetch + deserialization, and that
    // path is far more sensitive to box state than a heap-resident
    // cache. The r8 heap pressure was root-caused to the status-store
    // retention leak (fixed in Session.scala), so the heap-rent argument
    // no longer binds; stability wins. MEMORY_AND_DISK_SER was the
    // third candidate (PERF.md r17, "MEMORY_AND_DISK_SER loses at BOTH
    // heap sizes"): it OOMs an 8g JVM outright (transient object-graph
    // + serialization-buffer double footprint across 32 concurrent
    // cache builds) and measures ~9% slower at 24g — serialized-in-heap
    // re-imports the rent the tmpfs spill tier already pays for free.
    // Question closed.
    val ex = shingleIndex(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = ex.toDF("i", "h")
      .join(ex.toDF("j", "h"), Seq("h"))
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
    inter
      .join(sizes.toDF("i", "na"), Seq("i"))
      .join(sizes.toDF("j", "nb"), Seq("j"))
      .select(col("i"), col("j"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.6)
  }

  /** Oracle CTE chain producing the same `pairs(i, j, jaccard)`. */
  private val ddbNgramPairs =
    s"""$ddbShingleIndex,
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |  FROM ex a JOIN ex b USING (h) WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT i, j, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
       |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.6)""".stripMargin

  /** N-gram Jaccard near-dup: candidate pairs via the shingle inverted
    * index (|A∩B| = co-occurrence count), exact Jaccard from set sizes. */
  val ngramJaccard: Q = Q(
    "dedup_ngram_jaccard",
    (s, dir) => ngramPairs(s, dir),
    Some(
      s"""WITH $ddbCorpus,
         |$ddbNgramPairs
         |SELECT i, j, jaccard FROM pairs
         |ORDER BY i, j""".stripMargin))

  // --------------------------------------------- prefix-filtered join

  /** Jaccard threshold for the prefix-filtered join. 0.7 (vs ngram's
    * 0.6) keeps the two operators' outputs distinct under the shared
    * exhaustive-oracle shape. */
  val PrefixT = 0.7

  /** PPJoin-style prefix-filtered set-similarity self-join — the
    * candidate-generation discipline the full inverted-index join
    * ([[ngramPairs]]) lacks: instead of posting EVERY shingle of every
    * doc into the candidate join, each doc posts only its prefix under
    * a global rarest-first token order (df asc, hash asc), sized so the
    * filter is provably lossless (Bayardo et al., WWW'07 "Scaling Up
    * All Pairs Similarity Search"; Xiao et al.'s PPJoin adds the
    * both-side prefix + length filter used here):
    *
    *   J(A,B) ≥ t  ⟹  |A∩B| ≥ ceil(t·|A|)  (intersection ≥ t·union ≥
    *   t·|A|), so A's suffix of ceil(t·|A|)−1 tokens cannot contain all
    *   of A∩B — at least one shared token sits inside A's
    *   (|A|−ceil(t·|A|)+1)-prefix, and symmetrically for B; the
    *   standard prefix lemma upgrades that to a COMMON token in both
    *   prefixes (our per-side prefixes are ≥ the lemma's
    *   |X|−ceil(t·max)+1 lengths). Prefix arithmetic is exact integer —
    *   ceil(0.7·n) = (7n+9) div 10 — no float boundary.
    *
    * At t=0.7 each doc posts ≤ 30% of its tokens + 1, and those are its
    * RAREST tokens — the high-df boilerplate that makes the full index
    * join quadratic never enters the candidate join at all (the df-cap
    * is a blunt version of the same idea; prefix filtering keeps hot
    * tokens usable for verification while excluding them from candidate
    * generation). The length filter (10·min ≥ 7·max) prunes size-
    * incompatible pairs before the distinct. Verification then counts
    * intersections ONLY over candidate pairs. Losslessness is not
    * asserted, it is GATED: the oracle is the exhaustive index join at
    * the same threshold — hash-match proves no qualifying pair escaped
    * the prefix filter (same proof shape as search_trigram's blocking).
    *
    * 100 TB shape: shuffles on token hash (df + candidate join) and
    * doc_id (prefix ranking) — all hash-sized keys; candidate volume is
    * governed by rare-token collisions instead of hot-token df², which
    * is the property that survives a boilerplate-heavy web corpus.
    *
    * r21 verification rewrite (guide §1.1 stage attribution + §2.3
    * "shuffle fewer bytes"): the old verification expanded every
    * candidate pair by ALL of doc i's postings and re-joined on (j, h)
    * — at sf1 that is 17.3 M candidates × ~52 postings ≈ 0.9 G skinny
    * join rows, measured **248.7 s of a ~260 s query** (PERF.md
    * "Round 21", item 2; candidate generation itself was 1.1 s).
    * Verification now joins the candidate list to a per-doc sorted
    * token-hash ARRAY table (one row per doc, built from the same
    * capped index) and counts |A∩B| with the native `array_intersect`
    * — one row per candidate through two joins, no fan-out, the
    * intersection runs as codegen over ≤ O(|doc|) array elements.
    * Exactly the same count: per-doc shingle hashes are distinct (see
    * [[rawShingleIndexOf]]), so the old per-posting match count and
    * `size(array_intersect(...))` agree row-for-row — gated by the
    * unchanged exhaustive oracle. The array table is doc-bounded
    * (≤ doc shingle count × 8 B per row), so at 100 TB it shuffles
    * the same bytes the posting table would, once instead of twice. */
  val prefixFilter: Q = Q(
    "dedup_prefix_filter",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // MEMORY_AND_DISK like ngramPairs (see the persist-level note
      // there: DISK_ONLY's read path showed a heavy tail)
      val ex = shingleIndex(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val tokDf = ex.groupBy(col("h")).agg(count(lit(1)).as("tok_df"))
      val byDoc = Window.partitionBy(col("doc_id"))
      val ranked = ex.join(tokDf, Seq("h"))
        .withColumn("sz", count(lit(1)).over(byDoc))
        .withColumn("rn",
          row_number().over(byDoc.orderBy(col("tok_df"), col("h"))))
      val prefix = ranked
        .filter(col("rn") <= col("sz") - expr("(7 * sz + 9) DIV 10") + 1)
        .select(col("doc_id"), col("h"), col("sz"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val cands = prefix.toDF("i", "h", "ni")
        .join(prefix.toDF("j", "h", "nj"), Seq("h"))
        .filter(col("i") < col("j"))
        .filter(lit(10) * least(col("ni"), col("nj")) >=
          lit(7) * greatest(col("ni"), col("nj")))
        .select(col("i"), col("j")).distinct()
      // per-doc token-set arrays: size(toks) == the old per-doc posting
      // count (hashes are distinct within a doc), sort_array only for
      // plan determinism
      val docToks = ex.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("toks"),
          count(lit(1)).as("n"))
      // shuffle_hash builds a per-partition hash table of docToks (one
      // row per doc, its whole token array). That is only safe while
      // spark.sql.shuffle.partitions grows with the corpus: at a fixed
      // partition count each build partition grows linearly with the
      // doc count and a large enough corpus would not fit in memory,
      // where a sort-merge join would spill. The hint was measured at
      // sf1 on 32 partitions (PERF.md "Round 21", item 2).
      cands
        .join(docToks.toDF("i", "ti", "na").hint("shuffle_hash"), Seq("i"))
        .join(docToks.toDF("j", "tj", "nb").hint("shuffle_hash"), Seq("j"))
        .select(col("i"), col("j"),
          size(array_intersect(col("ti"), col("tj"))).cast("long").as("c"),
          col("na"), col("nb"))
        .select(col("i"), col("j"),
          (col("c").cast("double") / (col("na") + col("nb") - col("c")))
            .as("jaccard"))
        .filter(col("jaccard") >= PrefixT)
    },
    Some(
      s"""WITH $ddbCorpus,
         |$ddbShingleIndex,
         |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
         |  FROM ex a JOIN ex b USING (h) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT i, j, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
         |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= $PrefixT)
         |SELECT i, j, jaccard FROM pairs
         |ORDER BY i, j""".stripMargin))

  // ------------------------------------------------------ decontamination

  /** Train/bench fixture shared by [[decontaminate]] and
    * [[contamFraction]]: docs with doc_id%41 = 0 play the eval set; the
    * train side is every other doc plus planted contaminations (eval
    * texts with a prefix bolted on, +3000000 ids).
    *
    * The fixture deliberately scales the eval set with the corpus so
    * the contamination path is exercised in proportion at every SF.
    * The fixed-eval-set scaling witness (eval set pinned to doc_id <
    * 50000 at both decades) is recorded in PERF.md "Round 18 decade-3
    * scaling extended to the full 102-query sf10 gate set". */
  private def contamFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val isBench = col("doc_id") % 41 === 0
    val bench = d.filter(isBench)
    val train = d.filter(!isBench)
      .unionAll(bench.select((col("doc_id") + 3000000).as("doc_id"),
        concat(lit("prefix padding before the leaked evaluation text "),
          col("text")).as("text")))
    (bench, train)
  }

  /** Oracle CTEs mirroring [[contamFixture]]. */
  private val ddbContamFixture =
    """bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0),
      |train AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, 'prefix padding before the leaked evaluation text ' || text FROM bench)""".stripMargin

  /** Benchmark decontamination: flag TRAINING docs whose shingle overlap
    * with any EVAL-set doc exceeds a threshold — the step that keeps
    * test sets out of the training corpus. Same inverted-index shape as
    * the near-dup join (shuffle on the shingle hash, never train×eval
    * pairs), but the join is train-side × eval-side instead of a
    * self-join, and the metric is containment (shared / eval-doc
    * shingles ≥ 0.5) — a training doc that EMBEDS an eval doc is
    * contaminated even when its own text is much longer, the exact case
    * symmetric Jaccard under-scores.
    *
    * Df-cap asymmetry (deliberate): only the BENCH side is capped. A
    * benchmark passage leaked into thousands of training docs pushes
    * its shingles' train-side df through any cap — capping the train
    * index would hide exactly the most-contaminated case. Join fan-out
    * stays bounded by the capped (and small) bench side: each shingle
    * meets ≤ cap bench postings.
    *
    * Harness fixture: docs with doc_id%41 = 0 play the eval set; the
    * train side is every other doc plus planted contaminations (eval
    * texts with a prefix bolted on, +3000000 ids) so the flag path is
    * genuinely exercised. */
  val decontaminate: Q = Q(
    "curate_decontaminate",
    (s, dir) => {
      val (bench, train) = contamFixture(s, dir)
      val trainIx = rawShingleIndexOf(train).toDF("train_id", "h")
      // bench index feeds two branches (the h-join and the sizes);
      // persist it so the bench scan + shingle explode runs once
      val benchIx = shingleIndexOf(bench).toDF("bench_id", "h")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val benchSizes = benchIx.groupBy(col("bench_id"))
        .agg(count(lit(1)).as("bench_n"))
      trainIx.join(benchIx, Seq("h"))
        .groupBy(col("train_id"), col("bench_id"))
        .agg(count(lit(1)).as("shared"))
        .join(benchSizes, Seq("bench_id"))
        .select(col("train_id"), col("bench_id"), col("shared"),
          (col("shared").cast("double") / col("bench_n")).as("containment"))
        .filter(col("containment") >= 0.5)
    },
    Some {
      s"""WITH $ddbContamFixture,
         |tix AS (SELECT doc_id AS train_id, h FROM ${ddbShingleIx("train", capped = false)} t0),
         |bix AS (SELECT doc_id AS bench_id, h FROM ${ddbShingleIx("bench", capped = true)} b0),
         |bsz AS (SELECT bench_id, count(*) AS bench_n FROM bix GROUP BY bench_id),
         |ov AS (
         |  SELECT t.train_id, b.bench_id, count(*) AS shared
         |  FROM tix t JOIN bix b USING (h)
         |  GROUP BY 1, 2)
         |SELECT o.train_id, o.bench_id, o.shared,
         |       CAST(o.shared AS DOUBLE) / s.bench_n AS containment
         |FROM ov o JOIN bsz s USING (bench_id)
         |WHERE CAST(o.shared AS DOUBLE) / s.bench_n >= 0.5
         |ORDER BY train_id, bench_id""".stripMargin
    })

  /** Doc-level contamination fraction (the GPT-3-style "dirty document"
    * metric, complementing [[decontaminate]]'s per-(train,eval) pair
    * containment): for each training doc, the fraction of its distinct
    * shingles that appear ANYWHERE in the eval set, flagged dirty at
    * ≥ 0.5. The bench gram set is a benchmark corpus — small and
    * roughly constant-sized at any training scale — so the join
    * broadcasts and the only shuffle is the map-side-combined per-doc
    * aggregate (a doc's shingles sit in one partition, so the shuffle
    * carries one partial row per doc). */
  val contamFraction: Q = Q(
    "curate_contam_fraction",
    (s, dir) => {
      val (bench, train) = contamFixture(s, dir)
      val benchGrams = shingleIndexOf(bench).select(col("h")).distinct()
      rawShingleIndexOf(train).toDF("train_id", "h")
        .join(benchGrams.withColumn("hit", lit(1L)), Seq("h"), "left")
        .groupBy(col("train_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("train_id"), col("n_shingles"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_shingles")).as("dirty_frac"))
        .filter(col("dirty_frac") >= 0.5)
    },
    Some(
      s"""WITH $ddbContamFixture,
         |bg AS (SELECT DISTINCT h FROM ${ddbShingleIx("bench", capped = true)} b0),
         |tix AS (SELECT doc_id AS train_id, h FROM ${ddbShingleIx("train", capped = false)} t0),
         |m AS (
         |  SELECT t.train_id, count(*) AS n_shingles,
         |         CAST(sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM tix t LEFT JOIN bg ON t.h = bg.h
         |  GROUP BY t.train_id)
         |SELECT train_id, n_shingles, n_hit,
         |       CAST(n_hit AS DOUBLE) / n_shingles AS dirty_frac
         |FROM m WHERE CAST(n_hit AS DOUBLE) / n_shingles >= 0.5
         |ORDER BY train_id""".stripMargin))

  // ------------------------------------------------- duplicated passages

  /** Duplicated-PASSAGE detection (the ExactSubstr idea of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22,
    * at word-trigram granularity): doc-level dedup misses boilerplate
    * passages embedded in otherwise-unique documents. A trigram window
    * occurring in ≥ 2 distinct docs is a duplicated window; runs of
    * consecutive duplicated windows merge into maximal spans
    * (gaps-and-islands: pos − row_number is constant exactly on a
    * consecutive run), reported as [span_start, span_end] token offsets
    * with spans of < 2 windows dropped as chance collisions.
    *
    * Scale shape: two shuffles — the window-hash groupBy for document
    * frequency and the per-doc window for island merge (AQE-coalesced);
    * window instances travel as 64-bit hashes with an int offset, never
    * text. The gram subtree is NOT persisted across its two consumers:
    * recomputing scan+hash once is cheaper than caching an
    * every-token-position frame (PERF.md round-6: persist only when the
    * recompute is expensive AND shuffle-free). */
  val passages: Q = Q(
    "dedup_passages",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // positional grams from the native ordered shingle kernel —
      // measured neutral here (1.96→1.88 s; the winnowing-dominating
      // fold chain wasn't this query's bottleneck) but the kernel's
      // values put passages in the SAME shingle universe as every
      // other dedup consumer, one formula both engines mirror
      val inst = corpus(s, dir)
        .select(col("doc_id"),
          posexplode(H.orderedShingleHashesOfTokens(T.tokens(col("text"))))
            .as(Seq("pos", "g")))
      val hot = inst.select(col("doc_id"), col("g")).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select(col("g"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      inst.join(hot, Seq("g"), "left_semi")
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).cast("long").as("span_start"),
          (max(col("pos")) + 2).cast("long").as("span_end"),
          count(lit(1)).as("n_windows"))
        .filter(col("n_windows") >= 2)
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("n_windows"))
    },
    Some(
      s"""WITH $ddbCorpus,
         |toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM corpus),
         |th AS (SELECT doc_id, list_transform(t, tok -> ${T.polyHashSql("tok")}) AS hs FROM toks),
         |gi AS (
         |  SELECT doc_id,
         |         unnest(generate_series(1, len(hs) - 2)) - 1 AS pos,
         |         unnest(${H.orderedShingleHashesSql()}) AS g
         |  FROM th WHERE len(hs) >= 3),
         |hot AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM gi) dg
         |        GROUP BY g HAVING count(*) >= 2),
         |isl AS (
         |  SELECT doc_id, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM gi WHERE g IN (SELECT g FROM hot))
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |       CAST(max(pos) + 2 AS BIGINT) AS span_end,
         |       count(*) AS n_windows
         |FROM isl GROUP BY doc_id, grp
         |HAVING count(*) >= 2
         |ORDER BY doc_id, span_start""".stripMargin))

  // ------------------------------------------------------- winnowing

  /** Winnowing window width w: each document contributes the minimum
    * shingle hash of every w consecutive shingles. Guarantee (Schleimer
    * et al., SIGMOD 2003): any shared run of w+n-1 tokens (w shingles)
    * yields at least one shared fingerprint, while the selected set is
    * ~2/(w+1) of all shingles — a DENSITY-GUARANTEED sketch, unlike
    * MinHash's probabilistic one. */
  private val WinnowW = 4

  /** Minimum fingerprint-containment ratio for a reported pair. */
  private val WinnowThreshold = 0.5

  /** Winnowing fingerprint near-dup (the MOSS algorithm): positional
    * shingle hashes → per-window minimum → distinct fingerprint set per
    * doc → inverted-index pair join. Differs from [[ngramJaccard]] in
    * WHAT is indexed: winnowing keeps ~2/(w+1) of the shingles chosen
    * by a local-minimum rule, so the index (and thus the candidate
    * join) is ~2.5× smaller at the same guarantee that any w-shingle
    * run of overlap is caught — the classic local-fingerprinting
    * trade for plagiarism/clone detection at corpus scale.
    *
    * Selection note: classic winnowing records (hash, position) with a
    * rightmost-tie rule so self-overlap positions can be localized;
    * pair DETECTION only consumes the fingerprint VALUE set, which is
    * tie-rule-independent — both engines compute value sets, no
    * tie-break divergence possible. Docs with 0 < shingles < w keep
    * their global-min hash as the single fingerprint (the paper's
    * short-document degenerate case).
    *
    * Scale shape: fingerprints travel as 64-bit hashes; the pair join
    * shuffles on the fingerprint key, df-capped at [[ShingleDfCap]]
    * like every inverted index here (boilerplate fingerprints carry no
    * signal and would otherwise go quadratic); scoring is containment
    * n_shared / min(|A|,|B|) from integer counts — one double division
    * per surviving pair. */
  val winnowing: Q = Q(
    "dedup_winnowing",
    (s, dir) => {
      val sh = corpus(s, dir).select(col("doc_id"),
        H.orderedShingleHashesOfTokens(T.tokens(col("text"))).as("sh"))
      // per-window minimum WITHOUT per-position array allocation:
      // array_min(slice(sh,p,w)) copies a w-array for every position
      // (measured 14.1 s at sf0.1 — 9× the same-shape ngram join);
      // transform over the run-start prefix with w-1 element_at probes
      // is the same value, zero allocations per position
      val winMins = transform(
        slice(col("sh"), lit(1), size(col("sh")) - (WinnowW - 1)),
        (x, i) => (2 to WinnowW)
          .map(o => element_at(col("sh"), i + o))
          .foldLeft(x)(least(_, _)))
      val fps = sh.select(col("doc_id"),
        explode(
          when(size(col("sh")) >= WinnowW, array_distinct(winMins))
            .when(size(col("sh")) > 0, array(array_min(col("sh"))))
            .otherwise(array().cast("array<bigint>"))).as("fp"))
      val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val capped = fps
        .withColumn("df", count(lit(1)).over(byFp))
        .filter(col("df") <= ShingleDfCap)
        .drop("df")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
      capped.toDF("i", "fp")
        .join(capped.toDF("j", "fp"), Seq("fp"))
        .filter(col("i") < col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n_shared"))
        .join(sizes.toDF("i", "ni"), Seq("i"))
        .join(sizes.toDF("j", "nj"), Seq("j"))
        .select(col("i"), col("j"), col("n_shared"),
          (col("n_shared").cast("double") /
            least(col("ni"), col("nj")).cast("double")).as("containment"))
        .filter(col("containment") >= WinnowThreshold)
    },
    Some(
      s"""WITH $ddbCorpus,
         |sh AS (
         |  SELECT doc_id, ${H.orderedShingleHashesSql()} AS sh FROM (
         |    SELECT doc_id, list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'), tok -> ${T.polyHashSql("tok")}) AS hs
         |    FROM corpus)),
         |fp0 AS (
         |  SELECT doc_id, unnest(
         |    CASE WHEN len(sh) >= $WinnowW THEN
         |           list_distinct(list_transform(
         |             generate_series(1, len(sh) - ${WinnowW - 1}),
         |             p -> list_min(sh[p:p + ${WinnowW - 1}])))
         |         WHEN len(sh) > 0 THEN [list_min(sh)]
         |         ELSE CAST([] AS BIGINT[]) END) AS fp
         |  FROM sh),
         |fpc AS (
         |  SELECT doc_id, fp FROM fp0
         |  QUALIFY count(*) OVER (PARTITION BY fp) <= $ShingleDfCap),
         |sizes AS (SELECT doc_id, count(*) AS nf FROM fpc GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
         |  FROM fpc a JOIN fpc b USING (fp) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i, j, n_shared,
         |       CAST(n_shared AS DOUBLE) / least(sa.nf, sb.nf) AS containment
         |FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
         |WHERE CAST(n_shared AS DOUBLE) / least(sa.nf, sb.nf) >= $WinnowThreshold
         |ORDER BY i, j""".stripMargin))

  // --------------------------------------------- cluster resolution (CC)

  /** r20: the cut is `localCheckpoint`, not `createDataFrame(df.rdd)`.
    * Both collapse the analyzed tree to one LogicalRDD leaf, but the
    * rdd round-trip (a) deserializes every row to external Row objects
    * and re-encodes them on EVERY scan of the leaf (the 8-round
    * pagerank chain scans its adjacency leaf 8×), and (b) leaves the
    * leaf with the defaultSizeInBytes sentinel for stats, so the
    * planner treats a kilobyte label/rank frame as unbroadcastable
    * and plans SortMergeJoin + per-round Exchanges on BOTH sides.
    * localCheckpoint stores the materialized InternalRows once
    * (MEMORY_AND_DISK — same tier the old persist used) and the leaf
    * carries an honest size estimate, so the per-round joins go back
    * to being size-driven (BHJ while the small side is small; SMJ/SHJ
    * when it is not): graph_pagerank 17 Exchanges + 8 SMJ + 8 Sorts →
    * 9 Exchanges + 8 BHJ + 0 Sorts (plans/r20). Measured pin
    * (R20OptSpec): outputPartitioning does NOT survive the checkpoint
    * under AQE — the win is the InternalRow store + honest stats, not
    * partitioning reuse. Trade (documented upstream): a
    * localCheckpoint is not fault-tolerant. Once the cut is
    * materialized its lineage is gone, so a block lost with an
    * executor cannot be recomputed — not from the last cut, not from
    * the source; the job that reads it fails. The old
    * persist(MEMORY_AND_DISK) kept its lineage and recomputed lost
    * blocks; this cut trades that for the flat plan. Fine in local
    * mode (the driver holds every block); on a cluster that must
    * survive executor loss the loop needs a reliable `checkpoint()`
    * to a checkpoint dir instead.
    *
    * r21: the cut is LAZY (eager=false) — guide §1.3/§5, "fold the
    * convergence read into the materialization": eager checkpointing
    * ran one full job (the internal rdd.count()) and every loop round
    * then ran a SECOND job for its convergence count, so each round
    * paid ≥2 driver-side job dispatches over kilobyte frames — the
    * dominant cost of the iterative family at the bottom of the r20
    * profile (8c/32c ratios 0.66–0.98: round overhead, not compute).
    * With a lazy cut the caller's next action (the per-round count, or
    * the query's single terminal job in the fixed-round chains)
    * computes the checkpoint RDD, caches its blocks via the persist
    * level, and finalizes the checkpoint at job end — one job does
    * both. COST CONDITION (not a correctness one): the saving holds
    * only while the first stage that reads the leaf reads it alone
    * until it completes. The loop counts scan it alone, and the
    * fixed-round chains mostly order later scans behind the previous
    * round's broadcast/shuffle — but nothing enforces that order: under
    * AQE two independent leaf stages of one job (e.g. both sides of a
    * join) can be submitted together and each compute the
    * not-yet-materialized cut. That duplicates the work and keeps the
    * results correct (the blocks store once, the partitions are
    * deterministic). Multi-consumer one-shot DAGs like
    * sim_ivf_nprobe_sweep keep their EAGER cuts for exactly that
    * reason (see SimilarityQueries). */
  private[graft] def cutLineage(df: DataFrame): DataFrame =
    df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK)

  /** The convergence loop of [[starLabels]], [[clusterLabels]] and
    * [[kcore]]: `next = step(prev)` from `init` until `stable(prev,
    * next)`. No silent caps: after `maxRounds` it fails with `name` and
    * the round count rather than return mid-iteration state.
    *
    * Iterative loops must cut Catalyst lineage PERIODICALLY, not just
    * cache: each round's ANALYZED plan embeds the previous round's
    * several times (the cache substitution that flattens it to an
    * InMemoryRelation happens later, at planning), so the logical tree
    * grows exponentially and by ~round 8 merely rendering the plan
    * string OOMs the driver. But the cut itself is not free — rebasing
    * on `df.rdd` round-trips every row through external Row objects
    * and detaches the job from AQE (this ran EVERY round in round 6
    * and regressed dedup_clusters 3.06 → 4.48 s). So: let the tree
    * grow for `uncutRounds` persisted rounds, then collapse it to one
    * LogicalRDD node ([[cutLineage]]; 0 = cut every round).
    * `uncutRounds` must reflect the loop's BRANCHING FACTOR — the
    * uncut tree is branching^rounds copies of the loop base, and
    * Catalyst re-ANALYZES the full tree on every DataFrame built from
    * it: the min-label loop references its frame 2×/round (4 uncut
    * rounds ⟹ ≤16 copies, measured fastest), while the star loop
    * references its edge set ~8×/round (4 ⟹ ~4000 copies — measured
    * 38 s of pure analyzer time at sf0.1), so it runs ONE persisted
    * round between cuts (≤64 copies); kcore reads its edges ~3×/round
    * and cuts every round ([[kcore]] has the sf1 numbers). Typical
    * near-dup min-label loops converge in 2-4 rounds and never pay the
    * cut; adversarial long-chain graphs stay OOM-safe.
    *
    * Each new round is cut or persisted, never both (the checkpoint IS
    * the store; a persist over it caches the same rows twice).
    * `stable` is the round's only action and must materialize EVERY
    * partition of `next` (a full count, not limit(1)): on a cut round
    * it is the one job that computes, caches and finalizes the lazy
    * checkpoint, and the superseded round is released right after it
    * — a persisted one by `Dataset.unpersist`, a cut one through
    * [[cutRdd]] once no live round reads it through lineage (at the
    * next cut). `init` comes cut or persisted and is released like any
    * round; the final round and the cut it reads stay with the caller. */
  private[graft] def untilStable(name: String, init: DataFrame, maxRounds: Int,
      uncutRounds: Int)(step: DataFrame => DataFrame)(
      stable: (DataFrame, DataFrame) => Boolean): DataFrame = {
    def release(df: DataFrame): Unit = cutRdd(df) match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => df.unpersist()
    }
    var prev = init
    var heldCut: Option[DataFrame] = None // the cut the uncut rounds since read
    var uncut = 0
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val plan = step(prev)
      val cut = uncut >= uncutRounds
      val next = if (cut) cutLineage(plan) else plan.persist(StorageLevel.MEMORY_AND_DISK)
      converged = stable(prev, next)
      if (cut) { release(prev); heldCut.foreach(release); heldCut = None }
      else if (cutRdd(prev).isDefined) heldCut = Some(prev)
      else release(prev)
      uncut = if (cut) 0 else uncut + 1
      prev = next
      rounds += 1
    }
    require(converged, s"$name: no fixpoint in $rounds rounds")
    prev
  }

  /** The checkpoint RDD behind a [[cutLineage]] frame: the frame is a
    * LogicalRDD over it, not a cache entry, so `Dataset.unpersist()`
    * leaves its blocks until a GC lets the ContextCleaner drop them. */
  private[graft] def cutRdd(df: DataFrame): Option[RDD[_]] =
    Some(df.queryExecution.logical).collect { case r: LogicalRDD => r.rdd }

  /** Connected-component labels by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): each round hooks every node's neighborhood
    * to its minimum, so convergence is O(log n) rounds on ANY topology
    * — vs [[clusterLabels]]'s min-label propagation, which needs
    * diameter-many rounds. Min-label stays the production default for
    * near-dup graphs (dup components are stars/cliques of diameter
    * ≤ 2, where 2-3 cheap rounds win); this is the documented swap for
    * adversarial long-chain graphs, and the spec drives it over a
    * 60-node path — a graph the 20-round propagation cap can never
    * finish. Both operations preserve components; at fixpoint the edge
    * set IS the star (node → component-min), so labels fall out of one
    * left join. `edges` may carry any orientation; self-loops drop. */
  private[graft] def starLabels(nodes: DataFrame, edges0: DataFrame): DataFrame = {
    // the initial edge set is cut up front: with ~8 references per
    // round, even ONE uncut round would embed the (large) upstream
    // candidate-pair plan 8× in every analysis pass of the loop
    val init = cutLineage(edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    // r21: the cut is lazy, so this count is the one job that computes,
    // caches AND finalizes the checkpoint — not a second pass over it
    var edgeCount = init.count()
    // branching ~8/round ⟹ one persisted round between cuts (untilStable)
    val star = if (edgeCount == 0) init else
      untilStable("starLabels", init, maxRounds = 40, uncutRounds = 1) { edges =>
        // Each star phase is "attach rows to min over the node's
        // neighborhood" — ONE unordered partition-window per phase (the
        // min and the join-back ride the same shuffle), instead of the
        // groupBy + join-back pair that shuffles the neighbor list
        // twice. Three shuffles per round total (large window, small
        // window, final distinct) — at 100 TB that is half the per-round
        // shuffle I/O. WindowExec buffers one node's neighborhood per
        // group (spills via the external sorter); large-star halves hub
        // degrees every round, so the buffers shrink geometrically.
        import org.apache.spark.sql.expressions.Window
        // large-star: attach every neighbor v > u to min(Γ(u) ∪ {u})
        val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
          .unionAll(edges.select(col("dst").as("u"), col("src").as("v")))
        val large = nbrs
          .withColumn("m",
            least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
          .filter(col("v") > col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
          .filter(col("src") =!= col("dst"))
        // small-star: large's output is already oriented big→small
        // (m = a neighborhood min ≤ u < v); attach the smaller neighbors
        // AND u itself to the neighborhood min
        val withM2 = large
          .select(col("src").as("u"), col("dst").as("v"))
          .withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
        withM2
          .select(col("v").as("src"), col("m").as("dst"))
          .filter(col("src") =!= col("dst"))
          .unionAll(withM2.select(col("u").as("src"), col("m").as("dst")))
          .distinct()
      } { (edges, small) =>
        // equal cardinality + one-side inclusion ⟹ set equality (both
        // distinct). left_anti, not except(): both sides are already
        // distinct, and except() would re-distinct each side (two extra
        // aggregations per round) before the anti join it compiles to
        // anyway.
        val smallCount = small.count()
        val same = smallCount == edgeCount &&
          small.join(edges, Seq("src", "dst"), "left_anti").isEmpty
        edgeCount = smallCount
        same
      }
    val roots = star.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
    nodes.select(col("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** The converged (doc_id, cluster_id) labels — the propagation loop
    * shared by [[clusters]] (which emits it directly) and [[keepBest]]
    * (which re-keys clusters to their best-quality member). Returns a
    * projection of the final round (persisted, or a cut); callers own
    * the entry per Registry's cache note. */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame = {
      // both edge orientations from ONE pass over the pair plan (a
      // union of two projections would materialize the expensive
      // candidate join twice before the persist)
      val edges = ngramPairs(s, dir)
        .select(explode(array(
          struct(col("i").as("src"), col("j").as("dst")),
          struct(col("j").as("src"), col("i").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val init = corpus(s, dir)
        .select(col("doc_id"), col("doc_id").as("cluster_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // `labels` appears twice in each round's plan ⟹ four persisted
      // rounds between cuts (every round cut regressed r6). The cap: a
      // graph with diameter > 20 needs the large-star/small-star step.
      val last = untilStable("clusterLabels", init, maxRounds = 20, uncutRounds = 4) { prev =>
        // the loop carries the stored round, not this projection of it:
        // the release must target the frame the cache entry belongs to
        val labels = prev.select(col("doc_id"), col("cluster_id"))
        val neighborMin = edges
          .join(labels.toDF("dst", "n_label"), Seq("dst"))
          .groupBy(col("src")).agg(min(col("n_label")).as("n_min"))
        // one join carries both the new label AND the changed flag, so
        // convergence detection costs one filter over the stored
        // frame instead of a second labels join per round
        labels
          .join(neighborMin.toDF("doc_id", "n_min"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster_id").as("old_id"),
            least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
              .as("cluster_id"))
      } { (_, step) => step.filter(col("cluster_id") =!= col("old_id")).count() == 0 }
      edges.unpersist()
      last.select(col("doc_id"), col("cluster_id"))
  }

  /** Near-dup CLUSTER resolution: pair lists aren't actionable — a real
    * dedup pipeline resolves the pair graph into connected components
    * and keeps one canonical doc per component. Output: (doc_id,
    * cluster_id = min doc_id of the component), every corpus doc
    * included (singletons are their own cluster), keeper = doc_id ==
    * cluster_id.
    *
    * Algorithm: iterative min-label propagation over the undirected
    * pair edges — `label(v) ← min(label(v), min over neighbors
    * label(u))` until fixpoint. Each round is one broadcast-or-shuffle
    * join + one groupBy; rounds needed = component diameter, and dup
    * components are stars/cliques around an original (diameter ≤ 2
    * here, bounded small on real corpora), so the driver loop runs
    * 2-3 rounds. For adversarial long-chain graphs swap the step for
    * large-star/small-star ([[starLabels]], same join-groupBy
    * primitives, O(log n) rounds). Rounds run on [[untilStable]] with
    * a lineage cut every 5th round — lineage stays bounded.
    *
    * Oracle: DuckDB recursive-CTE transitive closure over the same
    * pairs + min(reachable) — exact same components (closure is fine at
    * oracle scale; the Spark side never materializes reachability). */
  val clusters: Q = Q(
    "dedup_clusters",
    (s, dir) => clusterLabels(s, dir),
    Some(
      s"""WITH RECURSIVE $ddbCorpus,
         |$ddbNgramPairs,
         |edges AS (SELECT i AS src, j AS dst FROM pairs
         |          UNION SELECT j AS src, i AS dst FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |  WHERE r.src <> e.dst),
         |best AS (SELECT src AS doc_id, MIN(dst) AS m FROM reach GROUP BY src)
         |SELECT c.doc_id AS doc_id, LEAST(c.doc_id, COALESCE(b.m, c.doc_id)) AS cluster_id
         |FROM corpus c LEFT JOIN best b ON b.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin))

  /** The same component labels via [[starLabels]] — the O(log n)-round
    * contraction under the full oracle gate, proving the two
    * formulations agree on the real near-dup graph (the property spec
    * additionally drives the long-chain case propagation cannot
    * finish). Edge derivation is shared with [[clusters]]. */
  val clustersStar: Q = Q(
    "dedup_clusters_star",
    (s, dir) => {
      val nodes = corpus(s, dir).select(col("doc_id"))
      val edges = ngramPairs(s, dir)
        .select(col("i").as("src"), col("j").as("dst"))
      starLabels(nodes, edges)
    },
    clusters.oracle)

  /** Canonical selection per near-dup cluster: real curation keeps the
    * BEST-quality member of each cluster, not the smallest id — the
    * re-key step between [[clusters]] and the final corpus. Keeper =
    * argmax over (quality desc, doc_id asc), as a partial-aggregating
    * `max(struct(q, -doc_id))` (the IVF-assignment pattern: the shuffle
    * carries one row per cluster, never the scored membership; a rank
    * window would shuffle every member to discard all but one). The
    * oracle crosses formulations: recursive-CTE closure + rank window.
    *
    * r21 SortAggregate note (VERDICT item 4, measured and REJECTED —
    * do not re-propose untested): the struct-typed max buffer defeats
    * HashAggregate, so this aggregate sort-aggregates. Two hash-only
    * rewrites were built, oracle-verified (227/227 both SFs) and
    * ABBA-measured against identical-code controls at sf0.1:
    * (a) phase-split groupBy(cluster_id, q)→min(doc_id),count then
    * argmax over the collapsed rows — min-of-6 ratio 1.29× vs a
    * 0.95–1.20 control band, a real LOSS: q is a composite double and
    * near-unique per doc, so phase 1 reduces almost nothing and the
    * added exchange is pure cost (same envelope at 100 TB — real
    * quality scores rarely collide); (b) the join-back form max(q) +
    * join + filter(q = max) + min(doc_id) — numbers at the A/B table
    * in OPTIMIZATION_r21.md — pays a second scan of the scored
    * membership plus an extra join and exchange. The single
    * sort-aggregate keeps map-side partial aggregation (one row per
    * cluster per partition crosses the exchange), which neither
    * rewrite preserves at lower total cost. */
  val keepBest: Q = Q(
    "dedup_keep_best",
    (s, dir) => {
      val labels = clusterLabels(s, dir)
      val scored = corpus(s, dir)
        .select(col("doc_id"), T.qualityScore(col("text")).as("q"))
      labels.join(scored, Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(
          max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("w"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_id"),
          (-col("w.neg_id")).as("keeper_id"),
          col("w.q").as("keeper_q"),
          col("n_members"))
    },
    Some(
      s"""WITH RECURSIVE $ddbCorpus,
         |$ddbNgramPairs,
         |edges AS (SELECT i AS src, j AS dst FROM pairs
         |          UNION SELECT j AS src, i AS dst FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |  WHERE r.src <> e.dst),
         |best AS (SELECT src AS doc_id, MIN(dst) AS m FROM reach GROUP BY src),
         |labels AS (
         |  SELECT c.doc_id AS doc_id, LEAST(c.doc_id, COALESCE(b.m, c.doc_id)) AS cluster_id
         |  FROM corpus c LEFT JOIN best b ON b.doc_id = c.doc_id),
         |scored AS (SELECT doc_id, ${TextOracleSql.quality} AS q FROM corpus),
         |m AS (
         |  SELECT l.cluster_id, s.doc_id, s.q,
         |         row_number() OVER (PARTITION BY l.cluster_id
         |           ORDER BY s.q DESC, s.doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY l.cluster_id) AS n_members
         |  FROM labels l JOIN scored s USING (doc_id))
         |SELECT cluster_id, doc_id AS keeper_id, q AS keeper_q,
         |       CAST(n_members AS BIGINT) AS n_members
         |FROM m WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin))

  // -------------------------------------------------------- MinHash LSH

  /** MinHash signatures + banded LSH: shingle → polyHash → K affine-mix
    * mins per doc → band-key self-join for candidates → signature-overlap
    * Jaccard estimate. The candidate join shuffles on the band key, so
    * cost scales with collisions, not with n². */
  val minhashLsh: Q = Q(
    "dedup_minhash_lsh",
    (s, dir) => {
      val exh = shingleIndex(s, dir) // already (doc_id, shingle hash h)
      val aggs = H.signatureAggs(col("h"))
      // The signature table feeds 4 band projections x 2 join sides plus
      // the 2 signature re-joins — without a persist Spark recomputes the
      // scan->shingle->hash->groupBy subtree ~10 times.
      val sig = exh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bands = (0 until H.NumBands)
        .map(b => sig.select(col("doc_id"),
          concat(lit(s"$b|"), H.bandKey(b)).as("bk")))
        .reduce(_ unionAll _)
      val cands = bands.toDF("i", "bk")
        .join(bands.toDF("j", "bk"), Seq("bk"))
        .filter(col("i") < col("j"))
        .select(col("i"), col("j")).distinct()
      val sl = sig.toDF(sig.columns.map("l_" + _).toIndexedSeq: _*)
      val sr = sig.toDF(sig.columns.map("r_" + _).toIndexedSeq: _*)
      cands
        .join(sl, col("i") === col("l_doc_id"))
        .join(sr, col("j") === col("r_doc_id"))
        .select(col("i"), col("j"),
          H.estJaccard(n => col("l_" + n), n => col("r_" + n)).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
    },
    Some {
      val mins = (0 until H.MinHashK)
        .map(i => s"min(${H.mixSql(i, "h")}) AS m$i").mkString(", ")
      def bandKeySql(b: Int): String =
        s"'$b|' || " + (0 until H.BandRows)
          .map(r => s"CAST(m${b * H.BandRows + r} AS VARCHAR)")
          .mkString(" || ',' || ")
      val bandSelects = (0 until H.NumBands)
        .map(b => s"SELECT doc_id, ${bandKeySql(b)} AS bk FROM sig")
        .mkString(" UNION ALL ")
      val matches = (0 until H.MinHashK)
        .map(i => s"CASE WHEN sl.m$i = sr.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $ddbCorpus,
         |$ddbShingleIndex,
         |sig AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
         |  FROM bands l JOIN bands r USING (bk) WHERE l.doc_id < r.doc_id),
         |est AS (
         |  SELECT c.i, c.j, CAST($matches AS DOUBLE) / ${H.MinHashK}.0 AS est_jaccard
         |  FROM cands c
         |  JOIN sig sl ON c.i = sl.doc_id
         |  JOIN sig sr ON c.j = sr.doc_id)
         |SELECT i, j, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5
         |ORDER BY i, j""".stripMargin
    })

  /** Incremental near-dup against an already-ingested corpus — the
    * daily-crawl shape [[incremental]] solves for EXACT re-crawls,
    * extended to near-duplicates: a re-crawled page with a changed
    * footer slips past the fingerprint anti-join (the trailer changes
    * the md5), but its MinHash band keys still collide with the
    * existing page's. The batch side signatures band-join the EXISTING
    * side only — no batch×batch pairs, and crucially no
    * existing×existing pairs, which is what makes this incremental: at
    * 100 TB the existing corpus's signatures and band keys are
    * PRECOMPUTED artifacts of previous ingests (here both sides are
    * derived in-query because the fixture is synthetic; the plan after
    * the signature stage is identical either way), so per-batch cost
    * scales with batch size × collision rate, never with corpus². The
    * production existing-side index would also df-cap its shingles as
    * [[shingleIndexOf]] does; uncapped here so the oracle stays
    * side-symmetric.
    *
    * Fixture (mirrors [[incremental]]'s %3 split): existing = doc_id %
    * 3 ≠ 0; batch = the %3 = 0 docs (genuinely new — must be kept) plus
    * near-re-crawls of existing docs (%4 = 0, text + trailer, id
    * = −doc_id−1) — exactly those must be flagged. Per batch doc the
    * output carries the match count, the best match (argmax est, ties
    * to the smallest existing id — a partial-aggregating max(struct),
    * the shuffle carries one row per batch doc) and the kept flag. */
  val incrementalLsh: Q = Q(
    "dedup_incremental_lsh",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val existing = d.filter(col("doc_id") % 3 =!= 0)
      val batch = d.filter(col("doc_id") % 3 === 0)
        .unionAll(existing.filter(col("doc_id") % 4 === 0)
          .select((-col("doc_id") - 1).as("doc_id"),
            concat(col("text"), lit(Trailer)).as("text")))
      def sigOf(docs: DataFrame): DataFrame = {
        val aggs = H.signatureAggs(col("h"))
        rawShingleIndexOf(docs).groupBy(col("doc_id"))
          .agg(aggs.head, aggs.tail: _*)
      }
      // each side's signature table feeds its band projections + the
      // estimate re-join — persist exactly those reuse points
      val sigE = sigOf(existing).persist(StorageLevel.MEMORY_AND_DISK)
      val sigB = sigOf(batch).persist(StorageLevel.MEMORY_AND_DISK)
      def bandsOf(sig: DataFrame): DataFrame = (0 until H.NumBands)
        .map(b => sig.select(col("doc_id"),
          concat(lit(s"$b|"), H.bandKey(b)).as("bk")))
        .reduce(_ unionAll _)
      val cands = bandsOf(sigB).toDF("b_id", "bk")
        .join(bandsOf(sigE).toDF("e_id", "bk"), Seq("bk"))
        .select(col("b_id"), col("e_id")).distinct()
      val sl = sigB.toDF(sigB.columns.map("l_" + _).toIndexedSeq: _*)
      val sr = sigE.toDF(sigE.columns.map("r_" + _).toIndexedSeq: _*)
      val matches = cands
        .join(sl, col("b_id") === col("l_doc_id"))
        .join(sr, col("e_id") === col("r_doc_id"))
        .select(col("b_id"), col("e_id"),
          H.estJaccard(n => col("l_" + n), n => col("r_" + n)).as("est"))
        .filter(col("est") >= 0.5)
      val agg = matches.groupBy(col("b_id"))
        .agg(count(lit(1)).as("n_matches"),
          max(struct(col("est"), (-col("e_id")).as("neg_id"))).as("w"))
        .select(col("b_id").as("doc_id"), col("n_matches"),
          (-col("w.neg_id")).as("best_match"), col("w.est").as("best_est"))
      batch.select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("best_match"), col("best_est"),
          col("n_matches").isNull.as("kept"))
    },
    Some {
      val mins = (0 until H.MinHashK)
        .map(i => s"min(${H.mixSql(i, "h")}) AS m$i").mkString(", ")
      def bandKeySql(b: Int): String =
        s"'$b|' || " + (0 until H.BandRows)
          .map(r => s"CAST(m${b * H.BandRows + r} AS VARCHAR)")
          .mkString(" || ',' || ")
      def bandSelects(sig: String): String = (0 until H.NumBands)
        .map(b => s"SELECT doc_id, ${bandKeySql(b)} AS bk FROM $sig")
        .mkString(" UNION ALL ")
      val m = (0 until H.MinHashK)
        .map(i => s"CASE WHEN sl.m$i = sr.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |existing AS (SELECT doc_id, text FROM d WHERE doc_id % 3 <> 0),
         |batch AS (
         |  SELECT doc_id, text FROM d WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT -doc_id - 1, text || '$Trailer' FROM existing WHERE doc_id % 4 = 0),
         |exE AS (SELECT doc_id, h FROM ${ddbShingleIx("existing", capped = false)} ge),
         |exB AS (SELECT doc_id, h FROM ${ddbShingleIx("batch", capped = false)} gb),
         |sigE AS (SELECT doc_id, $mins FROM exE GROUP BY doc_id),
         |sigB AS (SELECT doc_id, $mins FROM exB GROUP BY doc_id),
         |bandsE AS (${bandSelects("sigE")}),
         |bandsB AS (${bandSelects("sigB")}),
         |cands AS (
         |  SELECT DISTINCT b.doc_id AS b_id, e.doc_id AS e_id
         |  FROM bandsB b JOIN bandsE e USING (bk)),
         |est AS (
         |  SELECT c.b_id, c.e_id, CAST($m AS DOUBLE) / ${H.MinHashK}.0 AS est
         |  FROM cands c
         |  JOIN sigB sl ON c.b_id = sl.doc_id
         |  JOIN sigE sr ON c.e_id = sr.doc_id),
         |r AS (
         |  SELECT b_id, e_id, est,
         |         row_number() OVER (PARTITION BY b_id
         |           ORDER BY est DESC, e_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY b_id) AS n_matches
         |  FROM est WHERE est >= 0.5)
         |SELECT b.doc_id AS doc_id,
         |       COALESCE(r.n_matches, 0) AS n_matches,
         |       r.e_id AS best_match, r.est AS best_est,
         |       r.b_id IS NULL AS kept
         |FROM batch b LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
         |  ON b.doc_id = r.b_id
         |ORDER BY b.doc_id""".stripMargin
    })

  // ------------------------------------------------------------ SimHash

  private def simhashDocs(s: SparkSession, dir: String): DataFrame = {
    val exh = corpus(s, dir)
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), T.polyHash(col("tok")).as("h"))
    val aggs = H.bitSumAggs(col("h"))
    exh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), H.simhashFromSums.as("simhash"))
  }

  private val ddbSimhashDocs: String = {
    val sums = (0 until H.SimHashBits)
      .map(j => s"sum(CASE WHEN ${H.mixSql(j, "h")} % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val fold = (0 until H.SimHashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""exh AS (
       |  SELECT doc_id, ${T.polyHashSql("tok")} AS h FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |    FROM corpus)),
       |sums AS (SELECT doc_id, $sums FROM exh GROUP BY doc_id),
       |docs AS (SELECT doc_id, $fold AS simhash FROM sums)""".stripMargin
  }

  /** Per-document 32-bit SimHash sketches. */
  val simhashSketches: Q = Q(
    "dedup_simhash_sketches",
    (s, dir) => simhashDocs(s, dir),
    Some(
      s"""WITH $ddbCorpus,
         |$ddbSimhashDocs
         |SELECT doc_id, simhash FROM docs ORDER BY doc_id""".stripMargin))

  /** SimHash near-dup pairs: block on 8-bit bands of the sketch (≤1
    * flipped bit touches at most 1 of the 4 bands, so every qualifying
    * pair shares a band — pigeonhole), verify with bit_count(xor).
    * Threshold 1 bit: these synthetic docs share one small vocabulary,
    * so their sketches crowd together (16% of ALL pairs fall within 6
    * bits) — a loose threshold would make the result quadratic at scale. */
  val simhashPairs: Q = Q(
    "dedup_simhash_pairs",
    (s, dir) => {
      val docs = simhashDocs(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val bands = (0 until 4)
        .map(b => docs.select(col("doc_id"), col("simhash"),
          concat(lit(s"$b|"), H.simhashBand(col("simhash"), b)).as("bk")))
        .reduce(_ unionAll _)
      bands.toDF("i", "sh_i", "bk")
        .join(bands.toDF("j", "sh_j", "bk"), Seq("bk"))
        .filter(col("i") < col("j"))
        .select(col("i"), col("j"),
          bit_count(col("sh_i").bitwiseXOR(col("sh_j"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 1)
    },
    Some {
      val bandSelects = (0 until 4)
        .map(b => s"SELECT doc_id, simhash, '$b|' || CAST((simhash >> ${8 * b}) % 256 AS VARCHAR) AS bk FROM docs")
        .mkString(" UNION ALL ")
      s"""WITH $ddbCorpus,
         |$ddbSimhashDocs,
         |bands AS ($bandSelects),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j,
         |         bit_count(xor(l.simhash, r.simhash)) AS hamming
         |  FROM bands l JOIN bands r USING (bk) WHERE l.doc_id < r.doc_id)
         |SELECT i, j, hamming FROM pairs
         |WHERE hamming <= 1
         |ORDER BY i, j""".stripMargin
    })

  // ------------------------------------------- embedding-cosine near-dup

  /** Embedding near-dup: sign-LSH sketch buckets (16 hyperplanes) for
    * candidates, exact order-pinned cosine ≥ 0.95 to confirm. The bucket
    * join shuffles on the 16-bit sketch — never the n² cross join.
    *
    * Planted near-copies are PERTURBED, not identical: a deterministic
    * ±0.03/dim wiggle derived from each element's own value (cosine ≈
    * 0.99 vs the original on these unit-norm vectors) — so the threshold
    * and the LSH recall trade-off are genuinely exercised (a perturbed
    * copy whose sketch bit flips is legitimately missed; the oracle
    * mirrors the same recall).
    *
    * Hazard note (debugged the hard way): a transform lambda of shape
    * `(element, index) => f(element, index, outerColumn)` evaluated
    * DIFFERENT values for the same row depending on surrounding plan
    * context (Spark 4.1.2 nested-lambda binding) — DuckDB and a scalar
    * fold agreed, Spark didn't. The perturbation therefore uses a
    * value-only lambda (no index, no outer references), which is the
    * same shape as every other HOF in this codebase and evaluates
    * consistently. */
  val embeddingNearDup: Q = Q(
    "dedup_embedding_cosine",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val perturbed = transform(col("embedding"), x => {
        val xd = x.cast("double")
        val bucket = ((floor(xd * 1000).cast("long") % 7) + 7) % 7
        (xd + (bucket.cast("double") - 3.0) * 0.01).cast("float")
      })
      val vecs = e.unionAll(
        e.filter(col("vec_id") % 13 === 0)
          .select((col("vec_id") + 100000).as("vec_id"),
            perturbed.as("embedding")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sk = vecs.withColumn("sketch", H.hyperplaneSketch(col("embedding"), 64))
        .persist(StorageLevel.MEMORY_AND_DISK)
      sk.toDF("i", "emb_i", "sketch")
        .join(sk.toDF("j", "emb_j", "sketch"), Seq("sketch"))
        .filter(col("i") < col("j"))
        .select(col("i"), col("j"),
          H.cosine(col("emb_i"), col("emb_j")).as("cosine"))
        .filter(col("cosine") >= 0.95)
    },
    Some(
      s"""WITH vecs AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |         list_transform(embedding,
         |           x -> CAST(CAST(x AS DOUBLE) + (CAST((CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) % 7 + 7) % 7 AS DOUBLE) - 3.0) * 0.01 AS REAL))
         |  FROM embeddings WHERE vec_id % 13 = 0),
         |sk AS (SELECT vec_id, embedding, ${H.hyperplaneSketchSql("embedding", 64)} AS sketch FROM vecs),
         |pairs AS (
         |  SELECT l.vec_id AS i, r.vec_id AS j,
         |         ${H.cosineSql("l.embedding", "r.embedding")} AS cosine
         |  FROM sk l JOIN sk r USING (sketch) WHERE l.vec_id < r.vec_id)
         |SELECT i, j, cosine FROM pairs
         |WHERE cosine >= 0.95
         |ORDER BY i, j""".stripMargin))

  /** Cross-batch content dedup — the daily-crawl increment shape: a new
    * batch anti-joins on content FINGERPRINT against the already-
    * ingested corpus, so re-crawled pages drop before any heavier
    * near-dup machinery runs. Differs from [[exact]] (within-corpus
    * grouping) and the ETL key anti-joins (business keys): the dedup
    * identity here is the text value itself, carried as a 128-bit hash —
    * at 100 TB both sides shuffle hashes, never text, and the runtime
    * bloom filter prunes the probe side (same SMJ shape as the ventas
    * anti-join). Within-batch duplicates survive (one copy each of two
    * new identical pages is still new) — same contract as quirk 4.
    *
    * Fixture: prior ingests = doc_id % 3 ≠ 0; the new batch = the rest,
    * plus re-crawls of ALREADY-INGESTED pages (doc_id % 3 ≠ 0 ∧
    * % 4 == 0) under fresh ids — exactly those must drop — plus
    * WITHIN-BATCH duplicates (copies of batch pages with % 5 == 0)
    * whose both copies must survive, so the no-distinct contract is
    * itself under the oracle gate. Synthetic ids are -(doc_id)-1:
    * injective and strictly negative, so they can never collide with a
    * real (non-negative) doc_id at ANY scale factor — a fixed +4000000
    * offset collides once doc_id crosses it — and the two synthetic
    * unions draw from disjoint id sets (%3≠0 vs %3=0), so the shared
    * mapping cannot collide across them either. */
  val incremental: Q = Q(
    "dedup_incremental",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val ingested = d.filter(col("doc_id") % 3 =!= 0)
      val fresh = d.filter(col("doc_id") % 3 === 0)
      val batch = fresh
        .unionAll(ingested.filter(col("doc_id") % 4 === 0)
          .select((-col("doc_id") - 1).as("doc_id"), col("text")))
        .unionAll(fresh.filter(col("doc_id") % 5 === 0)
          .select((-col("doc_id") - 1).as("doc_id"), col("text")))
      val existingFps = ingested
        .select(T.fingerprintMd5(col("text")).as("fp")).distinct()
      batch.withColumn("fp", T.fingerprintMd5(col("text")))
        .join(existingFps, Seq("fp"), "left_anti")
        .select(col("doc_id"), col("fp"))
    },
    Some(
      // NOT EXISTS, never NOT IN: a NULL fingerprint on either side of
      // NOT IN drops rows (UNKNOWN semantics) where Spark's left_anti
      // keeps them — parity must not depend on the data being null-free
      """WITH d AS (SELECT doc_id, text FROM documents),
        |ingested AS (SELECT doc_id, text FROM d WHERE doc_id % 3 <> 0),
        |fresh AS (SELECT doc_id, text FROM d WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id, text FROM fresh
        |  UNION ALL
        |  SELECT -doc_id - 1, text FROM ingested WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT -doc_id - 1, text FROM fresh WHERE doc_id % 5 = 0),
        |fps AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM ingested),
        |bf AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM batch)
        |SELECT b.doc_id, b.fp
        |FROM bf b
        |WHERE NOT EXISTS (SELECT 1 FROM fps f WHERE f.fp = b.fp)
        |ORDER BY b.doc_id""".stripMargin))

  // ------------------------------------------------- graph analytics

  /** The near-dup pair graph's edge set `(i, j)`, `i < j`, as one
    * lineage cut, and |E| — the count that materializes the cut. Every
    * graph query below hangs off it, so the candidate-pair plan (the
    * shingle self-join) runs once per query, in that count's job, and
    * no round plan re-embeds it: the analyzer sees one LogicalRDD leaf
    * where it saw the whole candidate-generation subtree, once per
    * reference. |E| also sizes the query's cut frames ([[graphParts]])
    * and becomes the cut's size estimate: the cut would otherwise carry
    * the candidate-pair join's product estimate (5.4 GB for a kilobyte
    * edge set at sf0.001), every round would plan a sort-merge join
    * that re-shuffles the adjacency, and AQE would turn it into a
    * broadcast at run time, in a number of jobs that varies with which
    * stage finishes first. */
  private[graft] def edgeSet(s: SparkSession, dir: String): (DataFrame, Long) = {
    val e = cutLineage(ngramPairs(s, dir).select(col("i"), col("j")))
    val m = e.count()
    (org.apache.spark.sql.graftbridge.Bridge.withRowCount(e, m), m)
  }

  /** Triangle enumeration over the near-dup pair graph — the graph
    * statistic past connected components (a triangle means three docs
    * pairwise-similar: a tight dup cluster, vs the loose chains CC also
    * merges). Degree-ordered node-iterator (the MapReduce-era standard):
    * orient every edge from its lower-(degree, id) endpoint, build
    * wedges by self-joining oriented edges on the pivot, close each
    * wedge against the canonical edge set. The orientation bounds any
    * node's out-degree by O(√m) on any graph — the naive
    * wedge-from-every-node join explodes on hubs (a node of degree d
    * contributes d² wedges; orientation caps it), which is the entire
    * reason this formulation survives power-law graphs at scale. The
    * oracle is the naive 3-way pair join — crossing formulations again.
    * Output: canonical (x < y < z) triples. */
  val triangles: Q = Q(
    "graph_triangles",
    (s, dir) => {
      val (e, _) = edgeSet(s, dir)
      val deg = e.select(explode(array(col("i"), col("j"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val oriented = e
        .join(deg.toDF("i", "di"), Seq("i"))
        .join(deg.toDF("j", "dj"), Seq("j"))
        .select(
          when(col("di") < col("dj") ||
            (col("di") === col("dj") && col("i") < col("j")), col("i"))
            .otherwise(col("j")).as("src"),
          when(col("di") < col("dj") ||
            (col("di") === col("dj") && col("i") < col("j")), col("j"))
            .otherwise(col("i")).as("dst"))
      val wedges = oriented.toDF("a", "b")
        .join(oriented.toDF("a", "c"), Seq("a"))
        .filter(col("b") < col("c"))
      wedges.join(e.toDF("b", "c"), Seq("b", "c"))
        .select(
          least(col("a"), col("b"), col("c")).as("x"),
          (col("a") + col("b") + col("c") -
            least(col("a"), col("b"), col("c")) -
            greatest(col("a"), col("b"), col("c"))).as("y"),
          greatest(col("a"), col("b"), col("c")).as("z"))
    },
    Some(
      s"""WITH $ddbCorpus,
         |$ddbNgramPairs
         |SELECT a.i AS x, a.j AS y, b.j AS z
         |FROM pairs a
         |JOIN pairs b ON b.i = a.j
         |JOIN pairs c ON c.i = a.i AND c.j = b.j
         |ORDER BY x, y, z""".stripMargin))

  /** k for the core decomposition: the 2-core strips pendant chains and
    * isolated edges, keeping only cyclically-connected dup structure. */
  private val CoreK = 2

  /** Oracle unroll depth. Peeling is monotone — once the fixpoint is
    * reached every further stage is a no-op — so an unroll ≥ the
    * convergence round count is EXACTLY the fixpoint; the Spark side
    * asserts it converged within the same bound, so a fixture that
    * needed more rounds fails loudly there instead of silently
    * diverging from the oracle. */
  private val CoreRounds = 12

  /** k-core decomposition of the near-dup pair graph: iteratively peel
    * nodes of degree < k until fixpoint; emit surviving nodes with
    * their in-core degree. The dedup reading: 2-core members sit in
    * cyclic (mutually-corroborated) similarity structure — chain-only
    * links that CC would still merge peel away, a precision filter on
    * cluster membership. Each round is one degree aggregate + one
    * semi-join — all shuffles on the node id; rounds needed = the
    * peeling depth (≤ graph diameter, 2-3 on dup-cluster graphs).
    *
    * r21: each round CUTS LINEAGE ([[untilStable]], no uncut rounds: a
    * lazy [[cutLineage]] materialized by the round's convergence count).
    * The previous shape persisted each round WITHOUT a cut on the
    * claim that "the loop rebuilds from the persisted edge set each
    * round, so plan depth stays linear" — measured FALSE at sf1
    * (PERF.md "Round 21", item 1): a persist does not truncate the ANALYZED
    * plan (cache substitution happens at planning), and each round
    * references the previous frame ~3× (degree branch + two
    * semi-joins), so the logical tree grows ~3^rounds. The sf1 graph
    * peels a 1-edge tail for 5 rounds, and round cost exploded with
    * the tree, not the data: rounds 1.7 / 1.8 / 3.3 / 9.5 / 39.6 s
    * over a CONSTANT ~20 k edges, plus 41.6 s for the final degree
    * aggregate re-analyzing the full tree — ~95 s of pure analyzer
    * time on kilobyte frames. With the per-round cut every round plans
    * against one LogicalRDD leaf. At sf0.1 (2–3 rounds) the tree never
    * got deep enough to matter — this is exactly the term that made
    * kcore's decade ratio superlinear (117.9 s at sf1, r18 sweep). */
  val kcore: Q = Q(
    "graph_kcore",
    (s, dir) => {
      val (init, m) = edgeSet(s, dir)
      var nEdges = m
      val core = if (nEdges == 0) init else
        untilStable("graph_kcore", init, CoreRounds, uncutRounds = 0) { edges =>
          val deg = edges.select(explode(array(col("i"), col("j"))).as("v"))
            .groupBy(col("v")).agg(count(lit(1)).as("d"))
          val alive = deg.filter(col("d") >= CoreK).select(col("v"))
          edges
            .join(alive.toDF("i"), Seq("i"), "left_semi")
            .join(alive.toDF("j"), Seq("j"), "left_semi")
            .select(col("i"), col("j"))
        } { (_, next) =>
          // the count materializes the lazy cut — one job per round
          val n = next.count()
          val same = n == nEdges
          nEdges = n
          same
        }
      core.select(explode(array(col("i"), col("j"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("core_deg"))
    },
    Some {
      // MATERIALIZED stages: DuckDB inlines plain CTEs at every
      // reference, and each stage references its predecessor ~3× — an
      // unmaterialized unroll re-expands the whole upstream tree
      // 3^rounds times (observed as a file-handle explosion on the
      // parquet scan)
      val stages = (1 to CoreRounds).map { r =>
        s"""d$r AS MATERIALIZED (SELECT v, count(*) AS c FROM (
           |  SELECT i AS v FROM e${r - 1} UNION ALL SELECT j FROM e${r - 1}) GROUP BY v),
           |e$r AS MATERIALIZED (
           |  SELECT i, j FROM e${r - 1}
           |  JOIN d$r a ON a.v = i AND a.c >= $CoreK
           |  JOIN d$r b ON b.v = j AND b.c >= $CoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ddbCorpus,
         |$ddbNgramPairs,
         |e0 AS MATERIALIZED (SELECT i, j FROM pairs),
         |$stages
         |SELECT v AS doc_id, count(*) AS core_deg FROM (
         |  SELECT i AS v FROM e$CoreRounds UNION ALL SELECT j FROM e$CoreRounds)
         |GROUP BY v
         |ORDER BY doc_id""".stripMargin
    })

  /** Partitions for a graph query's cut frames, from the |E| that
    * [[edgeSet]] already measured, not the session shuffle setting: a
    * |V|~10^3 dup-cluster graph spread over 32 cached partitions pays
    * 32-way task dispatch on every round's scans for no parallelism
    * gain (measured: graph_pagerank 7.3 s at 32 partitions vs 5.3 s at
    * 8 at sf0.1). ~64k per partition, at least 2, at most the session's
    * shuffle partitions; grows with the graph at scale. */
  private def graphParts(s: SparkSession, n: Long): Int =
    math.max(2, math.min(s.sessionState.conf.numShufflePartitions, (n / 65536L).toInt + 1))

  /** Fixed-point scale for PageRank mass: ranks are integers counting
    * trillionths of total probability mass. 10^12 · 85 fits a long with
    * 2^16 headroom, and sums of per-node ranks stay ≤ 10^12·n ≪ 2^63. */
  private val PrScale = 1000000000000L

  /** Power-iteration rounds. With damping 0.85 the iteration contracts
    * by ≥0.85 per round, so after 8 rounds the residual is ≤0.85^8≈0.27
    * of the initial gap — enough to order hub docs on cluster-sized dup
    * graphs (diameter 2-3). The count is FIXED, not convergence-tested:
    * the oracle is an unrolled CTE chain, so both engines must run
    * exactly the same number of rounds to hash-match. */
  private val PrRounds = 8

  /** PageRank over the near-dup pair graph — ranks the canonical /
    * most-corroborated documents inside duplicate clusters (the doc
    * every near-copy links to scores highest, a principled keeper
    * choice vs [[keepBest]]'s heuristic).
    *
    * Float discipline: textbook PageRank sums double contributions,
    * and double addition is not associative — a partition-order change
    * flips low bits, which a hash-comparing oracle cannot tolerate.
    * Here every rank is a [[PrScale]] fixed-point LONG: contributions
    * are integer-divided by out-degree, damped by ·85 div 100, summed
    * exactly in any order. The only doubles are the final per-row
    * display division. Floor error per round is ≤ deg ulps of 10^-12 —
    * noise relative to rank gaps, identical noise in both engines.
    *
    * Scale shape: the adjacency (2|E| rows, degree on every row) is
    * one lineage cut over [[edgeSet]], materialized by the |V| count;
    * each round is one join ranks⋈adj (the small side broadcasts at
    * dup-graph sizes) plus one map-side-combining sum — one exchange
    * per round, O(rounds·|E|) total, the standard Pregel cost without
    * a graph library. The round count is FIXED (oracle-pinned), and
    * each round consumes the previous ranks frame exactly once, so the
    * whole iteration chains lazily into one linear-size plan / one job
    * — no per-round materialization needed (contrast
    * [[starLabels]]/[[kcore]], whose convergence tests force a count
    * per round). Teleport and init use integer div by |V| computed
    * ONCE driver-side (Spark) / in a 1-row CTE (oracle) — same floor
    * arithmetic, same values. */
  val pagerank: Q = Q(
    "graph_pagerank",
    (s, dir) => {
      val (e, m) = edgeSet(s, dir)
      // Degree is loop-invariant, so it rides ON the adjacency: one
      // (src, dst, d) cut and each round is a single join + aggregate
      // instead of adj⋈ranks⋈deg. The window runs over the
      // repartitioned adjacency, whose partitioning it already needs:
      // one exchange builds the cut.
      //
      // Each PageRank round reads the previous ranks frame exactly
      // ONCE, so the 8-round chain is a linear-size lazy plan and the
      // whole iteration is one job. The chain hangs off LINEAGE-CUT
      // leaves: referencing an uncut adjacency re-embeds the whole
      // candidate-generation subtree once per round in the analyzed
      // plan, and Catalyst re-optimizing that tree cost more than a
      // per-round materialization (8.4 s vs 6.5 s at sf0.1). The |V|
      // count below materializes the lazy cut before the chain reads it.
      val bys = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      val adjCut = cutLineage(
        e.select(col("i").as("src"), col("j").as("dst"))
          .unionAll(e.select(col("j").as("src"), col("i").as("dst")))
          .repartition(graphParts(s, m), col("src"))
          .withColumn("d", count(lit(1)).over(bys)))
      val n = adjCut.select(col("src")).distinct().count()
      val init = PrScale / n
      val tele = (PrScale * 15L) / (100L * n)
      val ranks0 = adjCut.select(col("src").as("v")).distinct()
        .select(col("v"), lit(init).as("r"))
      val ranks = (1 to PrRounds).foldLeft(ranks0) { (ranks, _) =>
        adjCut
          .join(ranks.withColumnRenamed("v", "src"), Seq("src"))
          .select(col("dst").as("v"), expr("r div d").as("c"))
          .groupBy(col("v"))
          .agg((lit(tele) + expr("(85 * sum(c)) div 100")).as("r"))
      }
      ranks
        .select(col("v").as("doc_id"), col("r").as("pr_scaled"),
          (col("r").cast("double") / lit(PrScale.toDouble)).as("pr"))
    },
    Some {
      val stages = (1 to PrRounds).map { k =>
        s"""r$k AS MATERIALIZED (
           |  SELECT a.dst AS v,
           |         CAST((($PrScale * 15) // (100 * nn.n))
           |          + (85 * sum(p.r // deg.d)) // 100 AS BIGINT) AS r
           |  FROM adj a
           |  JOIN r${k - 1} p ON p.v = a.src
           |  JOIN deg ON deg.src = a.src, nn
           |  GROUP BY a.dst, nn.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ddbCorpus,
         |$ddbNgramPairs,
         |e0 AS MATERIALIZED (SELECT i, j FROM pairs),
         |adj AS MATERIALIZED (
         |  SELECT i AS src, j AS dst FROM e0
         |  UNION ALL SELECT j AS src, i AS dst FROM e0),
         |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM adj GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS MATERIALIZED (
         |  SELECT src AS v, ($PrScale // nn.n) AS r FROM deg, nn),
         |$stages
         |SELECT v AS doc_id, r AS pr_scaled,
         |       CAST(r AS DOUBLE) / ${PrScale.toDouble} AS pr
         |FROM r$PrRounds
         |ORDER BY doc_id""".stripMargin
    })

  /** Label-propagation rounds. Fixed, not convergence-tested: the
    * oracle is an unrolled-CTE chain, so both engines must run exactly
    * the same rounds (the [[pagerank]] discipline). 4 suffices on
    * dup-cluster graphs (diameter 2-3) for labels to flood each
    * component's dominant community. */
  private val LpRounds = 4

  /** Label-propagation community detection over the near-dup pair graph
    * (Raghavan et al. 2007, "Near linear time algorithm to detect
    * community structures"): every node starts as its own label; each
    * synchronous round reassigns each node the label most frequent
    * among its neighbors (count ties to the SMALLER label id — fully
    * deterministic where the published algorithm breaks ties randomly).
    * Communities differ from [[clusters]]' connected components: LPA
    * splits a weakly-bridged component into its dense cores — the
    * dedup reading is "which docs corroborate EACH OTHER", a finer
    * keeper grouping than reachability.
    *
    * Scale shape: same skeleton as [[pagerank]] — the adjacency is one
    * lineage cut over [[edgeSet]] (partitions from |E|), each round is
    * one join plus ONE per-node aggregate ([[lpaRound]]), shuffling on
    * the node id once; the fixed rounds chain lazily into ONE job over
    * lineage-cut leaves (each round reads the previous labels exactly
    * once). O(rounds·|E|) total. */
  val labelPropagation: Q = Q(
    "graph_label_prop",
    (s, dir) => {
      val (e, m) = edgeSet(s, dir)
      lpaLabels(s, e, m).select(col("v").as("doc_id"), col("lbl").as("community"))
    },
    Some(
      s"""WITH $ddbLpaChain
         |SELECT v AS doc_id, lbl AS community
         |FROM l$LpRounds
         |ORDER BY doc_id""".stripMargin))

  /** The LPA kernel behind [[labelPropagation]], exposed for
    * [[modularity]]: per-node (v, lbl) after [[LpRounds]] majority
    * rounds over the lineage-cut adjacency of [[edgeSet]]'s `edges`,
    * |E| = `m`. */
  private def lpaLabels(s: SparkSession, edges: DataFrame, m: Long): DataFrame = {
    // lazy cut (r21) — same cost condition as pagerank's (cutLineage)
    val adjCut = cutLineage(
      edges.select(col("i").as("src"), col("j").as("dst"))
        .unionAll(edges.select(col("j").as("src"), col("i").as("dst")))
        .repartition(graphParts(s, m), col("src")))
    val labels0 = adjCut.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
    (1 to LpRounds).foldLeft(labels0)((labels, _) => lpaRound(adjCut, labels))
  }

  /** One synchronous LPA round over adjacency `adj(src, dst)`: each node
    * takes the label most frequent among its neighbors, the SMALLEST
    * label among equally frequent ones — deterministic `mode` returns
    * the lowest, which is the oracle's `count DESC, lbl ASC`. One
    * aggregate, so one exchange on the node id. */
  private[graft] def lpaRound(adj: DataFrame, labels: DataFrame): DataFrame =
    adj.join(labels.withColumnRenamed("v", "dst"), Seq("dst"))
      .groupBy(col("src"))
      .agg(mode(col("lbl"), deterministic = true).as("lbl"))
      .select(col("src").as("v"), col("lbl"))

  /** Shared oracle CTE chain producing adj, e0 and the LPA labels
    * l[[LpRounds]] — the single source for [[labelPropagation]]'s and
    * [[modularity]]'s oracles. */
  private lazy val ddbLpaChain: String = {
    val stages = (1 to LpRounds).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT src AS v, lbl FROM (
         |    SELECT a.src, p.lbl, count(*) AS c,
         |           ROW_NUMBER() OVER (
         |             PARTITION BY a.src
         |             ORDER BY count(*) DESC, p.lbl ASC) AS rk
         |    FROM adj a JOIN l${k - 1} p ON p.v = a.dst
         |    GROUP BY a.src, p.lbl) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""$ddbCorpus,
       |$ddbNgramPairs,
       |e0 AS MATERIALIZED (SELECT i, j FROM pairs),
       |adj AS MATERIALIZED (
       |  SELECT i AS src, j AS dst FROM e0
       |  UNION ALL SELECT j AS src, i AS dst FROM e0),
       |l0 AS MATERIALIZED (
       |  SELECT src AS v, src AS lbl FROM (SELECT DISTINCT src FROM adj)),
       |$stages""".stripMargin
  }

  /** Newman modularity of the LPA partition — the quality score that
    * turns "we ran community detection" into "the communities are
    * real": Q = Σ_c [e_c/m − (d_c/2m)²], reported PER COMMUNITY so a
    * curation reviewer sees which clusters carry the structure. Float
    * discipline: every contribution is the single exact division
    * (4·m·e_c − d_c²) / (4·m²) — both operands exact integers, so the
    * total Q is recoverable by summing exact numerators, never an
    * ordered double sum. One labels join per edge endpoint (the same
    * partitioning LPA already used), two map-side-combining folds;
    * at 100 TB the cost is the LPA run it piggybacks on. */
  val modularity: Q = Q(
    "graph_modularity",
    (s, dir) => {
      val (e, m) = edgeSet(s, dir)
      val labels = lpaLabels(s, e, m)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val deg = e.select(explode(array(col("i"), col("j"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val eIn = e
        .join(labels.toDF("i", "ci"), Seq("i"))
        .join(labels.toDF("j", "cj"), Seq("j"))
        .filter(col("ci") === col("cj"))
        .groupBy(col("ci").as("community")).agg(count(lit(1)).as("e_in"))
      val dTot = labels.toDF("v", "community")
        .join(deg, Seq("v"))
        .groupBy(col("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
      // Numerator AND denominator in decimal(38,0): a driver-side
      // `4L * m * m` wraps Scala Long silently past m ≈ 1.5e9 edges
      // (flipping q_contrib signs at the 100 TB scale this targets,
      // where DuckDB's BIGINT would error instead) — BigDecimal keeps
      // both exact, and decimal→double is the same single correct
      // rounding the long cast was, so values are bit-identical
      // wherever no wrap occurred.
      val fourM = lit(BigDecimal(m) * 4)
      val denom = lit(BigDecimal(m) * BigDecimal(m) * 4)
      dTot.join(eIn, Seq("community"), "left_outer")
        .select(col("community"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"),
          ((fourM * coalesce(col("e_in"), lit(0L)) -
            col("d_tot").cast("decimal(38,0)") * col("d_tot")).cast("double") /
            denom.cast("double")).as("q_contrib"))
    },
    Some(
      s"""WITH $ddbLpaChain,
         |m AS (SELECT count(*) AS m FROM e0),
         |deg AS (SELECT v, count(*) AS d FROM (
         |  SELECT i AS v FROM e0 UNION ALL SELECT j FROM e0) GROUP BY v),
         |ein AS (
         |  SELECT a.lbl AS community, count(*) AS e_in
         |  FROM e0 JOIN l$LpRounds a ON a.v = e0.i
         |          JOIN l$LpRounds b ON b.v = e0.j AND b.lbl = a.lbl
         |  GROUP BY a.lbl),
         |dtot AS (
         |  SELECT lbl AS community, count(*) AS n_nodes,
         |         CAST(SUM(d) AS BIGINT) AS d_tot
         |  FROM l$LpRounds nl JOIN deg ON nl.v = deg.v
         |  GROUP BY lbl)
         |SELECT community, n_nodes, COALESCE(e_in, 0) AS e_in, d_tot,
         |       CAST(CAST(4 AS HUGEINT) * m.m * COALESCE(e_in, 0)
         |              - CAST(d_tot AS HUGEINT) * d_tot AS DOUBLE) /
         |         CAST(CAST(4 AS HUGEINT) * m.m * m.m AS DOUBLE) AS q_contrib
         |FROM dtot LEFT JOIN ein USING (community) CROSS JOIN m
         |ORDER BY community""".stripMargin))

  // --------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with a coarse k-means-style quantizer,
    * then dedup WITHIN clusters only — a doc is dropped when a
    * smaller-id doc in its own cluster sits above the cosine threshold.
    * Differs from [[embeddingNearDup]] (sign-LSH pair REPORT) in both
    * blocking and output: cluster blocking follows the semantic
    * structure of the space rather than random hyperplanes, and the
    * result is the per-doc keep/drop decision a curation pipeline
    * consumes, not the candidate pair list.
    *
    * Plants the same %13 perturbed near-copies as [[embeddingNearDup]]
    * (cosine ≈ 0.99 vs the original), so the drop set is non-trivially
    * exercised: a planted copy lands in its original's cluster (their
    * cosine to every centroid is nearly equal) and gets dropped there —
    * unless the perturbation flips the nearest-centroid argmax, which is
    * the recall trade-off the paper's clustering step genuinely has; the
    * oracle mirrors it exactly.
    *
    * Scale shape (100 TB): centroids are K ≈ √n stride-sampled rows
    * broadcast everywhere (the trained-quantizer variant is
    * [[SimilarityQueries.annIvfKmeans]]'s Lloyd loop — the assignment
    * machinery here is literally shared with it); assignment is a
    * broadcast argmax whose shuffle carries n pre-reduced rows; the
    * within-cluster self-join shuffles on centroid_id and compares
    * Σ|c|² ≈ n²/K = n^1.5 pairs — the published algorithm's own cost
    * profile, kept off n² by K growing with the corpus. The drop rule
    * (smallest id survives) is a groupBy-free anti-join: pairs already
    * carry i < j, so the distinct j-side IS the drop set. */
  val semantic: Q = Q(
    "dedup_semantic",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val perturbed = transform(col("embedding"), x => {
        val xd = x.cast("double")
        val bucket = ((floor(xd * 1000).cast("long") % 7) + 7) % 7
        (xd + (bucket.cast("double") - 3.0) * 0.01).cast("float")
      })
      val vecs = e.unionAll(
          e.filter(col("vec_id") % 13 === 0)
            .select((col("vec_id") + 100000).as("vec_id"),
              perturbed.as("embedding")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val stride = SimilarityQueries.ivfStride(vecs.count())
      val centroids = vecs.filter(col("vec_id") % stride === lit(3L % stride))
        .toDF("centroid_id", "c_emb")
      val assigned = SimilarityQueries.assignArgmax(vecs, centroids)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dropped = assigned.toDF("i", "emb_i", "centroid_id")
        .join(assigned.toDF("j", "emb_j", "centroid_id"), Seq("centroid_id"))
        .filter(col("i") < col("j"))
        .filter(H.cosine(col("emb_i"), col("emb_j")) >= 0.95)
        .select(col("j").as("vec_id")).distinct()
        .withColumn("is_dropped", lit(true))
      assigned.select(col("vec_id"), col("centroid_id"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("centroid_id"),
          coalesce(!col("is_dropped"), lit(true)).as("kept"))
    },
    Some(
      s"""WITH vecs AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |         list_transform(embedding,
         |           x -> CAST(CAST(x AS DOUBLE) + (CAST((CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) % 7 + 7) % 7 AS DOUBLE) - 3.0) * 0.01 AS REAL))
         |  FROM embeddings WHERE vec_id % 13 = 0),
         |params AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS stride FROM vecs),
         |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb
         |      FROM vecs, params WHERE vec_id % params.stride = 3 % params.stride),
         |assigned AS (
         |  SELECT vec_id, embedding, centroid_id FROM (
         |    SELECT v.vec_id, v.embedding, c.centroid_id,
         |           ROW_NUMBER() OVER (
         |             PARTITION BY v.vec_id
         |             ORDER BY ${H.cosineSql("v.embedding", "c.c_emb")} DESC, c.centroid_id ASC) AS crank
         |    FROM vecs v CROSS JOIN c) WHERE crank = 1),
         |dropped AS (
         |  SELECT DISTINCT r.vec_id
         |  FROM assigned l JOIN assigned r USING (centroid_id)
         |  WHERE l.vec_id < r.vec_id
         |    AND ${H.cosineSql("l.embedding", "r.embedding")} >= 0.95)
         |SELECT a.vec_id, a.centroid_id,
         |       (d.vec_id IS NULL) AS kept
         |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin))

  /** Common-neighbors link prediction over the dup-pair graph: for every
    * NON-adjacent pair (x, y) sharing at least one neighbor, the
    * common-neighbor count and its Jaccard coefficient
    * cn / (d(x) + d(y) − cn) (Liben-Nowell & Kleinberg, CIKM'03). On a
    * dedup graph this surfaces "missing edges" — pairs the pairwise
    * Jaccard threshold narrowly missed but whose shared dup
    * neighborhood says they are the same cluster (the review queue a
    * curation pipeline actually triages).
    *
    * Fixture note: the synthetic dup graph is transitively CLOSED by
    * construction (exact + near copies of one original form cliques),
    * so every 2-hop pair is already adjacent and the honest answer is
    * empty. Link prediction exists for incomplete graphs, so the
    * fixture plants incompleteness the same way the corpus plants dups:
    * a deterministic third of the edges ((i + j) % 3 = 0) is held out
    * before the wedge join, and the query's output is exactly the
    * held-out-edge recovery a link-prediction evaluation measures —
    * both engines mirror the holdout.
    *
    * Plan shape: symmetrize edges, self-join on the middle vertex to
    * enumerate wedges (x–v–y, x < y), one map-side-combining count per
    * (x, y), one left_anti against the edge set to keep non-adjacent
    * pairs only, degrees via two broadcast-size joins. Wedge volume is
    * Σ d(v)² — bounded here because the underlying index is df-capped
    * (no vertex's degree exceeds the cap by construction); a general
    * 100 TB social graph would additionally cap or sample hub
    * neighborhoods before the wedge join, exactly as [[triangles]]
    * orients by degree. The oracle crosses formulations (plain SQL
    * joins over the same pair CTE). */
  val commonNeighbors: Q = Q(
    "graph_common_neighbors",
    (s, dir) => {
      val e = ngramPairs(s, dir).select(col("i"), col("j"))
        .filter((col("i") + col("j")) % 3 =!= 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val adj = e.unionAll(e.select(col("j").as("i"), col("i").as("j")))
        .toDF("a", "b")
      val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("d"))
      val wedges = adj.toDF("v", "x")
        .join(adj.toDF("v", "y"), Seq("v"))
        .filter(col("x") < col("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cn"))
      wedges
        .join(e.toDF("x", "y"), Seq("x", "y"), "left_anti")
        .join(deg.toDF("x", "dx"), Seq("x"))
        .join(deg.toDF("y", "dy"), Seq("y"))
        .select(col("x"), col("y"), col("cn"),
          (col("cn").cast("double") / (col("dx") + col("dy") - col("cn")))
            .as("cn_jaccard"))
    },
    Some(
      s"""WITH $ddbCorpus,
         |$ddbNgramPairs,
         |kept AS (SELECT i, j FROM pairs WHERE (i + j) % 3 <> 0),
         |adj AS (
         |  SELECT i AS a, j AS b FROM kept
         |  UNION ALL SELECT j AS a, i AS b FROM kept),
         |deg AS (SELECT a AS v, count(*) AS d FROM adj GROUP BY a),
         |w AS (
         |  SELECT l.b AS x, r.b AS y, count(*) AS cn
         |  FROM adj l JOIN adj r ON l.a = r.a AND l.b < r.b
         |  GROUP BY 1, 2),
         |nonadj AS (
         |  SELECT w.x, w.y, w.cn FROM w
         |  LEFT JOIN kept p ON p.i = w.x AND p.j = w.y
         |  WHERE p.i IS NULL)
         |SELECT n.x, n.y, n.cn,
         |       CAST(n.cn AS DOUBLE) / (dx.d + dy.d - n.cn) AS cn_jaccard
         |FROM nonadj n
         |JOIN deg dx ON dx.v = n.x
         |JOIN deg dy ON dy.v = n.y
         |ORDER BY x, y""".stripMargin))

  /** BFS rounds (fixed — oracle-pinned like [[PrRounds]]) and seed
    * thinning modulus. */
  private[graft] val BfsRounds = 4
  private val BfsSeedMod = 50

  /** Multi-source BFS over the near-dup graph — "contamination blast
    * radius": given a seed set of flagged documents (every
    * [[BfsSeedMod]]-th id — a stand-in for a takedown / eval-leak
    * list), every document within [[BfsRounds]] near-dup hops and its
    * minimal hop count. The curation consumer quarantines hop ≤ k —
    * transitive contamination that pairwise decontamination misses.
    *
    * Scale shape: the classic Pregel frontier relaxation without a
    * graph library — dist_r(v) = min over adjacency rows (u, v, w) of
    * dist_{r-1}(u) + w ([[bfsRound]]), each round ONE join against the
    * adjacency plus one map-side-combining MIN — O(rounds·|E|). The
    * adjacency carries weight-1 edges both ways plus a weight-0
    * self-loop for every node and seed ([[bfsAdjacency]]), so the one
    * join yields both the carried distances and the expanded frontier:
    * the oracle's carry ∪ expand, with each round reading its
    * predecessor ONCE (a carry ∪ expand round reads it twice, which
    * doubles the lazy chain per round). The adjacency and seed frames
    * enter the loop as lineage cuts ([[edgeSet]]'s skeleton): over
    * UNCUT inputs the chain re-embeds the whole candidate-generation
    * subtree per reference and Catalyst re-analyzes it every round
    * (measured 15.9 s uncut vs 7.8 s cut at sf0.1, reps=3 medians —
    * analyzer cost on a graph whose data fits in kilobytes).
    * [[graphParts]] sizes the frames from |E|. Distances are small
    * integers — nothing floats. Isolated seeds surface at hop 0 (the
    * takedown list itself is part of the report). */
  val bfsReach: Q = Q(
    "graph_bfs_reach",
    (s, dir) => {
      val (e, m) = edgeSet(s, dir)
      val gParts = graphParts(s, m)
      val d0 = cutLineage(
        corpus(s, dir).filter(col("doc_id") % BfsSeedMod === 0)
          .select(col("doc_id").as("v"), lit(0L).as("hop"))
          .repartition(gParts, col("v")))
      // the seeds' self-loops come from the seed cut, so the corpus is
      // scanned once for seeds: the adjacency's cut computes d0 while
      // it runs its shuffle stages, and the chain reads both warm
      val adj = cutLineage(bfsAdjacency(e, d0).repartition(gParts, col("src")))
      (1 to BfsRounds).foldLeft(d0)((d, _) => bfsRound(d, adj))
        .select(col("v").as("doc_id"), col("hop"))
    },
    Some {
      // MATERIALIZED per round for the same reason as kcore's oracle:
      // each stage reads its predecessor twice (carry + expand).
      val stages = (1 to BfsRounds).map { r =>
        s"""d$r AS MATERIALIZED (
           |  SELECT v, MIN(hop) AS hop FROM (
           |    SELECT v, hop FROM d${r - 1}
           |    UNION ALL
           |    SELECT a.dst AS v, d.hop + 1 AS hop
           |    FROM d${r - 1} d JOIN adj a ON a.src = d.v)
           |  GROUP BY v)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ddbCorpus,
         |$ddbNgramPairs,
         |adj AS MATERIALIZED (
         |  SELECT i AS src, j AS dst FROM pairs
         |  UNION ALL SELECT j, i FROM pairs),
         |d0 AS MATERIALIZED (
         |  SELECT doc_id AS v, CAST(0 AS BIGINT) AS hop FROM corpus
         |  WHERE doc_id % $BfsSeedMod = 0),
         |$stages
         |SELECT v AS doc_id, hop FROM d$BfsRounds
         |ORDER BY doc_id""".stripMargin
    })

  /** [[bfsReach]]'s weighted adjacency `(src, dst, w)` over edge set
    * `edges(i, j)`: every edge both ways at weight 1, and one weight-0
    * self-loop per node of the graph or of `seeds(v)`, so that a BFS
    * round keeps every distance it already holds. */
  private[graft] def bfsAdjacency(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val nodes = edges.select(col("i").as("v"))
      .unionAll(edges.select(col("j").as("v")))
      .unionAll(seeds.select(col("v")))
      .distinct()
    edges.select(col("i").as("src"), col("j").as("dst"), lit(1L).as("w"))
      .unionAll(edges.select(col("j").as("src"), col("i").as("dst"), lit(1L).as("w")))
      .unionAll(nodes.select(col("v").as("src"), col("v").as("dst"), lit(0L).as("w")))
  }

  /** One BFS round: distances `d(v, hop)` relaxed over [[bfsAdjacency]]
    * `adj` — d reads once, one MIN aggregate on the node id. */
  private[graft] def bfsRound(d: DataFrame, adj: DataFrame): DataFrame =
    d.join(adj, col("v") === col("src"))
      .groupBy(col("dst"))
      .agg(min(col("hop") + col("w")).as("hop"))
      .select(col("dst").as("v"), col("hop"))

  def all: Seq[Q] = Seq(
    exact, dupRateBySource, ngramJaccard, prefixFilter, clusters, clustersStar, keepBest,
    minhashLsh, incrementalLsh,
    simhashSketches,
    simhashPairs, embeddingNearDup, semantic, shingleDfCapReport,
    decontaminate, contamFraction, passages, incremental, triangles, kcore,
    pagerank, labelPropagation, winnowing, commonNeighbors, bfsReach,
    modularity)
}
