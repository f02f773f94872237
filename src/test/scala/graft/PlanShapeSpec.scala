package graft

/** Physical-plan shape pins for the scale-critical operators: the
  * design claims in the scaladocs ("one shuffle", "no nested-loop
  * join", "no Expand", "argmax, not a rank window") asserted against
  * the plans Catalyst actually produces, so a refactor that silently
  * degrades a plan fails here instead of at 100×. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    val p = Registry.queries(name)(spark, Sf)
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    p
  }

  private def count(haystack: String, needle: String): Int =
    haystack.sliding(needle.length).count(_ == needle)

  test("as-of join: ONE data shuffle (the per-user window), no join operator") {
    val p = plan("events_asof_lastmark")
    // union + window formulation: a single hashpartitioning exchange
    // carries both sides; the output sort is a rangepartitioning
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("range join: equi-join on (user, bucket), never a nested-loop join") {
    val p = plan("events_range_burst")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("latest-state compaction: aggregate only — no window, no join") {
    val p = plan("events_latest_state")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("vocab and dq_profile multi-level aggregates plan without Expand") {
    val pv = plan("text_vocab")
    assert(!pv.contains("Expand"), pv)
    val pd = plan("dq_profile")
    assert(!pd.contains("Expand"), pd)
  }

  test("tokens-once projections survive CollapseProject (one fold, one split per row)") {
    // The r14 tokens-once shape relies on CollapseProject's cost check
    // (SPARK-36718) NOT re-inlining the shared __st/__toks aliases —
    // if a future optimizer change inlines them, the scorers silently
    // go back to one tokenization per metric. Pin: exactly one
    // aggregate() HOF (the tokenStats fold) and one split() in the
    // executed plan.
    def folds(p: String): Int = count(p, "aggregate(")
    def splits(p: String): Int = count(p, "split(")
    val pq = plan("text_quality_score")
    assert(folds(pq) == 1 && splits(pq) == 1, pq)
    val pg = plan("text_gopher_rules")
    assert(splits(pg) == 1, pg)
    val pm = plan("text_quality_model")
    assert(folds(pm) == 1, pm)
  }

  test("IVF queries rank-window only the query subset (one Window operator)") {
    // corpus assignment is the partial-aggregating argmax; the only
    // rank window left is the |Q|-row probe ranking ("Window [" — the
    // exec node; WindowGroupLimit pushdown nodes around it are expected
    // and welcome)
    def windows(p: String): Int =
      p.linesIterator.count(l => l.contains("Window [") && !l.contains("WindowGroupLimit"))
    val pi = plan("sim_ann_ivf")
    assert(windows(pi) == 1, pi)
    val pk = plan("sim_ann_ivf_kmeans")
    assert(windows(pk) == 1, pk)
  }

  test("ETL enrichment joins broadcast the dim side (fact never shuffles for it)") {
    val p = plan("cartera_load")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only exchange is the final output ordering
    assert(count(p, "Exchange hashpartitioning") == 0, p)
  }

  test("source cap: bounded topk aggregate, never a rank window or SMJ") {
    val p = plan("curate_source_cap")
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("temperature mixing: corpus joins broadcast; only the tiny domain-count agg shuffles") {
    val p = plan("sample_temperature")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // one hashpartitioning exchange: the |domains|-row count aggregate
    // (the totals agg is a single-partition reduction, the final sort a
    // rangepartitioning) — the corpus itself never hash-shuffles
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("forward as-of join: ONE data shuffle, no join operator (mirror of backward)") {
    val p = plan("events_asof_forward")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("SCD2 build: all three window passes reuse ONE per-user shuffle") {
    val p = plan("events_scd2_state")
    // lag/run-encode, run groupBy, and lead(close) all partition on
    // user_id — Catalyst must not re-exchange between them
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("fuzzy name join: equi-join on the block key, never a nested loop over names") {
    val p = plan("join_fuzzy_names")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("CDC merge: aggregate-only fold — no window, no join over the log") {
    val p = plan("cdc_merge_log")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("KMV sketch: distinct collapses map-side; bottom-k is TakeOrdered, not a global sort") {
    val p = plan("sketch_kmv_distinct")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tpch_q5 snowflake: every dimension broadcasts; ONE hash exchange (the final group)") {
    val p = plan("tpch_q5_region_volume")
    // 5 broadcast joins attach customer/supplier/nation/region and the
    // orders date filter to lineitem without ever shuffling the fact
    assert(count(p, "BroadcastHashJoin") == 5, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only hash exchange is the n_name aggregation; the trailing
    // sort is a rangepartitioning
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("tpch_q17: per-part average joins back BROADCAST onto the fact — no window, no SMJ") {
    val p = plan("tpch_q17_small_quantity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // a window formulation would shuffle every lineitem row; the
    // agg-then-join shape must stay window-free
    assert(!p.contains("Window"), p)
  }

  test("quality ntile: every window is partitioned — the corpus never moves to one partition") {
    import org.apache.spark.sql.execution.window.WindowExecBase
    val sp = Registry.queries("text_quality_ntile")(spark, Sf)
      .queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExecBase => w }
    // the cumulative-histogram and boundary-bin row_number windows
    assert(wins.nonEmpty, sp.toString)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
    spark.catalog.clearCache()
  }

  test("semantic dedup: centroid assignment is broadcast argmax, no rank window") {
    val p = plan("dedup_semantic")
    // corpus×centroid scoring must be a broadcast crossJoin + argmax
    // (the IVF assignment shape — a BroadcastNestedLoopJoin against the
    // √n centroid frame) — never a rank window over the n·K scored set
    assert(!p.contains("Window ["), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the within-cluster pair join and the kept-flag join are ALLOWED
    // to shuffle: cluster lists / the drop set are corpus-sized in the
    // worst case, not broadcastable
    assert(count(p, "SortMergeJoin") <= 2, p)
  }

  test("PQ ADC: every distance-table join broadcasts; the corpus is never rank-windowed") {
    val p = plan("sim_pq_adc")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window ["), p)
    // encode join + M=4 dtable joins + 2 re-rank fetches, all broadcast
    assert(count(p, "BroadcastHashJoin") >= 5, p)
  }

  test("golden record: single aggregate fold — no window, no join over the event log") {
    val p = plan("events_golden_record")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("int8 quantization: pure projection — no hash exchange before the output sort") {
    val p = plan("sim_quantize_int8")
    assert(count(p, "Exchange hashpartitioning") == 0, p)
    assert(!p.contains("Join"), p)
  }

  test("z-order manifests: no sort-merge join; only the two layout groupBys shuffle") {
    val p = plan("layout_zorder")
    assert(!p.contains("SortMergeJoin"), p)
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("co-occurrence: vocab attaches broadcast; no rank window over the pair set") {
    val p = plan("text_cooccur_pmi")
    // (the only BroadcastNestedLoopJoin is the 1-row n_docs scalar
    // attach — the standard pattern, not asserted against)
    assert(count(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("Window ["), p)
  }

  test("tpch_q6: all three range predicates push into the parquet scan") {
    val p = plan("tpch_q6_forecast_revenue")
    // the scan node advertises PushedFilters; shipdate/discount/quantity
    // must all appear (zone-map pruning at 100 TB depends on it)
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(scanLine.contains(c), s"$c not pushed: $scanLine")
    assert(!p.contains("Join"), p)
  }

  test("tpch_q19: implied envelopes push to both scans; part side broadcasts") {
    val p = plan("tpch_q19_disjunctive")
    // the redundant conjuncts are the whole point: brand IN-list on the
    // part scan, quantity range on the lineitem scan
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("p_brand"), p)
    assert(pushed.contains("l_quantity"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pagerank: rank frames stay small — adjacency joins are the only exchanges") {
    val p = plan("graph_pagerank")
    // the 8 rounds chain lazily into ONE plan over the lineage-cut
    // adjacency (degree rides on it); the rank iteration itself is
    // join + agg only. The degree window and the candidate-gen
    // subtree's shingle df-cap window sit behind the cuts, so the only
    // Window a rendered plan may show is a df-cap one, never a
    // rank-frame window.
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.forall(_.contains("AS df#")), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("winnowing: fingerprint join is a hash join keyed on the fingerprint") {
    val p = plan("dedup_winnowing")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q18: one fact aggregation, survivors broadcast back, TakeOrdered top-100") {
    val p = plan("tpch_q18_large_volume")
    // the quantity agg is the only hash exchange; the IN-subquery shape
    // must NOT plan a second lineitem aggregation or shuffle orders
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tpch_q21: EXISTS/NOT-EXISTS plan as semi + anti hash joins, no nested loop") {
    val p = plan("tpch_q21_waiting_orders")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q16: distinct supplier count plans without Expand; denylist is a broadcast anti join") {
    val p = plan("tpch_q16_supplier_cnt")
    assert(!p.contains("Expand"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tpch_q13: zero-order customers survive — left outer join, two aggregations") {
    val p = plan("tpch_q13_customer_distribution")
    assert(p.contains("LeftOuter") || p.contains("RightOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("drift report: ONE pass over events — both consumers read the cached aggregate") {
    val p = plan("dq_drift_tvd")
    // the per-type aggregate persists; its plan (with the single events
    // FileScan) prints under the InMemoryRelation for BOTH consumers,
    // so count DISTINCT exchange plan ids, not string occurrences
    assert(count(p, "InMemoryTableScan") == 2, p)
    val hashExchangeIds = "Exchange hashpartitioning[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(hashExchangeIds.size == 1, p)
  }

  test("tpch_q9: filtered part dim broadcasts ahead of the wider joins; no SMJ") {
    val p = plan("tpch_q9_product_profit")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tpch_q20: the narrowing chain is all semi joins") {
    val p = plan("tpch_q20_part_promotion")
    assert(count(p, "LeftSemi") >= 2, p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch_q22: inactivity check is a broadcast anti join; avg gate broadcasts") {
    val p = plan("tpch_q22_global_sales")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tpch_q12: ship-date range pushes into the fact scan") {
    val p = plan("tpch_q12_shipmode_priority")
    // extract ONLY the PushedFilters bracket (the whole FileScan line
    // also prints DataFilters — a bare substring match passes vacuously)
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(p).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(pushed.contains("LessThan(l_shipdate"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("retention cohorts: no global window; per-user set aggregate is the heavy shuffle") {
    val p = plan("events_retention_cohorts")
    // every Window must be partitioned (no empty partition spec =
    // single-partition global window)
    assert(!p.contains("Window [") ||
      !p.linesIterator.exists(l => l.contains("Window [") &&
        l.contains("partitionBy=[]")), p)
    assert(p.contains("ObjectHashAggregate"), p) // collect_set
    assert(count(p, "Exchange hashpartitioning") <= 3, p)
  }

  test("incremental dedup: ONE anti hash-join on the fingerprint, no nested loop") {
    val p = plan("dedup_incremental")
    // the cross-batch screen is a LeftAnti equi-join keyed on the
    // 128-bit content fingerprint — text never shuffles, and there is
    // no fallback to a nested-loop or cartesian shape. Catalyst may
    // push the anti-join through the 3-branch batch union (one join
    // per branch), so 1..3 anti joins are all the same logical screen.
    val anti = count(p, "LeftAnti")
    assert(anti >= 1 && anti <= 3, p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("ngram pairs: the capped index builds ONCE and every consumer reads the cache") {
    val p = plan("dedup_ngram_jaccard")
    // the round-8 verdict's "is the index rebuilt per consumer?"
    // question, answered by plan: the persisted index is read at all
    // three consumer sites (both self-join sides + sizes), and the
    // expensive tokenize→explode→df-window build appears only inside
    // the single InMemoryRelation, never as a bare recompute branch
    assert(count(p, "InMemoryTableScan") >= 3, p)
    val cacheStart = p.indexOf("InMemoryRelation")
    assert(cacheStart >= 0, p)
    // no posting-scale work above the first cache reference: every
    // occurrence of the shingle kernel is inside the cached subtree
    assert(!p.substring(0, cacheStart).contains("shingle_hashes"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bm25: zero corpus shuffle — broadcast stats, bounded top-k, no window") {
    val p = plan("search_bm25")
    // per-row tf + one broadcast 1-row stats aggregate + graft_topk:
    // the corpus is never hash-partitioned (the only exchanges are the
    // single-partition stats/topk reductions and the output range sort)
    assert(count(p, "Exchange hashpartitioning") == 0, p)
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("mrl recall: one scoring pass, both rankings reduce via bounded top-k") {
    val p = plan("sim_mrl_recall")
    // two graft_topk aggregates in the SAME groupBy — the scored pair
    // set is built once and shuffles once (query_id), never per metric
    assert(count(p, "graft_topk") >= 2, p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("curriculum: no single-partition window over data, offsets broadcast back") {
    val p = plan("pack_curriculum")
    // the data-sized window is per (phase, bucket); the only other
    // window runs over the ≤ phases·buckets-row count table. The
    // offsets attach via broadcast — the corpus never joins by SMJ.
    def windows(s: String): Int =
      s.linesIterator.count(l => l.contains("Window [") && !l.contains("WindowGroupLimit"))
    assert(windows(p) == 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // 3 hash exchanges: the (phase, bucket) data shuffle, the count-table
    // groupBy, and the offsets window's NON-FOLDABLE constant key
    // (pmod(phase, 1) — r10: a foldable `phase * 0` key was optimized
    // away, silently degrading that window to single-partition-with-
    // warning; the extra exchange moves ≤ phases·buckets rows)
    assert(count(p, "Exchange hashpartitioning") <= 3, p)
    // and the degradation itself must not come back: an unpartitioned
    // window compiles to Exchange SinglePartition
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("novelty: postings-keyed joins only — no pair join, no cartesian") {
    val p = plan("text_novelty_ngram")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    // shingle-hash aggregation + per-doc rollup: the only exchanges are
    // h, doc_id, and the output range sort
    assert(count(p, "Exchange hashpartitioning") <= 3, p)
  }

  test("codec tier: decode stage is scattered off the single-file scan") {
    val p = plan("mm_decode_png_stats")
    // the documents table is ONE parquet file = one scan partition; a
    // CPU-bound mapPartitions that inherits it runs single-threaded
    // (measured 19 s -> 1.6 s at sf0.1 when scattered — PERF.md r10).
    // The explicit round-robin repartition of the 20-byte spec rows is
    // load-bearing and must not be refactored away.
    assert(p.contains("RoundRobinPartitioning"), p)
  }

  test("bloom filter: bitmap stays a distributed plan — no driver-collected bit table") {
    val p = plan("sketch_bloom")
    // the trained filter must be the grouped bit_or bitmap, broadcast
    // at the probe join — a .collect() of set-bit positions would show
    // up as a LocalTableScan feeding the probe side (and would be
    // O(membership) rows on the driver at scale)
    assert(!p.contains("LocalTableScan"), p)
    assert(p.contains("bit_or"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("index probe answers from the persisted artifact — no corpus re-assignment") {
    // build-once/probe-many: the probe plan reads exactly three parquet
    // sources (centroids, inverted lists, the query rows) and ranks
    // only the |Q|·K probe scores — a corpus-sized argmax re-derivation
    // would appear as a fourth scan + a corpus-keyed aggregate
    val p = plan("sim_index_probe")
    assert(count(p, "Scan parquet") == 3, p)
    assert(p.contains("simindex"), p)
    // one rank window (WindowGroupLimit pre-filters are fine); ranked
    // rows are the |Q|·K probe scores, never the corpus
    assert(count(p, "Window [") == 1, p)
  }

  test("PQ index probe answers from the persisted codebooks/codes — no corpus re-encode") {
    // the corpus-sized PQ encode (posexplode over every vector + the
    // per-(vector,subspace) argmax + the pivot-to-wide aggregate)
    // belongs to sim_index_build; the probe reads the pq_codebooks /
    // pq_codes artifacts, and its four ADC lookups read the CACHED
    // |Q|·M·K query distance table (raw "Scan parquet" counting is
    // misleading here: each InMemoryRelation printout embeds its
    // cached child plan, so the dtable's two source scans appear once
    // per lookup in the text while executing once)
    val p = plan("sim_index_pq_probe")
    assert(p.contains("pq_codebooks") && p.contains("pq_codes"), p)
    assert(count(p, "InMemoryTableScan") == 4, p)
    // re-encode signatures: sim_pq_adc's in-query encode plans as a
    // pivot aggregate ("first(if (...") over the per-subspace argmax
    // ("max(struct("); neither may appear in the probe plan
    assert(!p.contains("first(if ("), p)
    assert(!p.contains("max(struct"), p)
  }

  test("wide profile: ONE parquet scan regardless of column count") {
    // the per-branch dq_profile shape re-reads one narrow column per
    // branch (right at 4 columns); the wide form must profile all 11
    // lineitem columns from a single scan via the unpivot Generate
    val p = plan("dq_profile_wide")
    assert(count(p, "Scan parquet") == 1, p)
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("Join"), p)
  }

  test("wide profile keeps the one-scan shape at 55 columns (linear-in-columns claim)") {
    // the registry query profiles 11 lineitem columns; the scaladoc
    // claims linear-in-columns at 100. Gate the claim's plan half at
    // ≥50: a 55-column parquet (r12 verdict task 6) must still plan as
    // ONE scan + the unpivot Generate, no join, no per-column re-read.
    // (The cost half — per-column marginal seconds — is recorded in
    // PERF.md "Round 13 `dq_profile_wide` per-column marginal cost".)
    val (wide, wcols) = DqQueries.syntheticWide(
      spark.read.parquet(s"$Sf/lineitem.parquet"), 55)
    val out = java.nio.file.Files.createTempDirectory("graft-wide55")
      .resolve("t").toString
    wide.write.mode("overwrite").parquet(out)
    val p = DqQueries.wideProfileFrame(
        spark.read.parquet(out), wcols, spark.sparkContext.defaultParallelism)
      .queryExecution.executedPlan.toString
    assert(count(p, "Scan parquet") == 1, p)
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("Join"), p)
  }

  test("MOR scan: DV application co-partitions on file_id — no static broadcast of the churn-unbounded DV table") {
    // the DV table grows with TOTAL delete churn (~n_deletes/64 longs),
    // so the static plan must shuffle-join it (broadcast is only ever a
    // runtime AQE downgrade when the side MEASURES small); A/B at 50%
    // churn: broadcast 1.28 s vs shuffle 0.96 s (PERF.md r11 "MOR
    // deletion-vector scan")
    val p = plan("layout_mor_scan")
    assert(p.contains("ShuffledHashJoin [file_id"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }
}
