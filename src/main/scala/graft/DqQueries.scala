package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry.Q
import graft.etl.Sources.table

/** Data-quality profiling (SURVEY.md §7.2 step 7): per-column profile —
  * row count, null count, distinct count, numeric/string min-max — the
  * DQ surface a load job reports before committing a batch.
  *
  * Shape (rewritten round 3): one branch per column, each a two-level
  * aggregation — `groupBy(value).count` (partial map-side combine, then
  * a shuffle carrying only the DISTINCT values) folded into the profile
  * row. The previous single-agg formulation planned the 4-column
  * multi-distinct as an Expand ×5 over the full scan — a 5× row
  * explosion shuffled on every profiled column at once, the exact shape
  * that dies at 100 TB (measured 7 s median at sf0.1, ~3× this form).
  * Per-branch scans are columnar: each reads exactly one parquet column
  * (`ReadSchema` one field), so 4 narrow scans beat 1 wide expand.
  *
  * Distinct counts here are exact so the DuckDB oracle can hash-match;
  * at 100 TB swap the groupBy level for `approx_count_distinct` (HLL,
  * mergeable) and drop the oracle to a rows-only check — the HLL
  * sketches of the two engines are not bit-compatible.
  *
  * WIDE-TABLE note (r10): P profiled columns = P narrow scans here —
  * fine at 4 columns, linear-in-columns at a 100-col table. The
  * single-pass alternative is the `dq_profile_drift` shape: ONE scan
  * with a conditional aggregate per (column, metric) — n/n_null/min/
  * max for all columns in one map-side-combined pass — which covers
  * everything EXCEPT exact distincts (those either keep a per-column
  * groupBy or drop to approx_count_distinct, itself single-pass once
  * approximate). Rule of thumb: columns ≤ ~8 → per-branch columnar
  * scans (each reads one parquet column); wide tables → one-pass
  * conditional agg + HLL distincts.
  *
  * Perf history: r9's final sweep recorded 3.54 s (code unchanged from
  * r7); two isolated clean runs in r10 measured 1.17 s / 1.01 s —
  * adjudicated as in-sweep noise, not a regression (PERF.md r10).
  */
object DqQueries {

  private case class Col(name: String, numeric: Boolean)

  private val Profiled = Seq(
    Col("l_quantity", numeric = true),
    Col("l_extendedprice", numeric = true),
    Col("l_returnflag", numeric = false),
    Col("l_linestatus", numeric = false))

  val profile: Q = Q(
    "dq_profile",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val branches = Profiled.map { c =>
        li.select(col(c.name).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
          .agg(
            // coalesce: sum over zero groups is NULL, count(*) was 0 —
            // keep the empty-input semantics the oracle's count(*) has
            coalesce(sum(col("cnt")), lit(0L)).as("n"),
            coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
              .as("n_null"),
            // count(DISTINCT c) semantics: nulls excluded
            count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
            (if (c.numeric) min(col("v")).cast("double")
             else lit(null).cast("double")).as("min_num"),
            (if (c.numeric) max(col("v")).cast("double")
             else lit(null).cast("double")).as("max_num"),
            (if (c.numeric) lit(null).cast("string")
             else min(col("v")).cast("string")).as("min_str"),
            (if (c.numeric) lit(null).cast("string")
             else max(col("v")).cast("string")).as("max_str"))
          .select(lit(c.name).as("col_name"), col("n"), col("n_null"),
            col("n_distinct"), col("min_num"), col("max_num"),
            col("min_str"), col("max_str"))
      }
      branches.reduce(_ unionAll _).orderBy("col_name")
    },
    Some {
      val selects = Profiled.map { c =>
        val (minNum, maxNum, minStr, maxStr) =
          if (c.numeric)
            (s"CAST(min(${c.name}) AS DOUBLE)", s"CAST(max(${c.name}) AS DOUBLE)",
              "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          else
            ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
              s"CAST(min(${c.name}) AS VARCHAR)", s"CAST(max(${c.name}) AS VARCHAR)")
        s"""SELECT '${c.name}' AS col_name, count(*) AS n,
           |  CAST(SUM(CASE WHEN ${c.name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  count(DISTINCT ${c.name}) AS n_distinct,
           |  $minNum AS min_num, $maxNum AS max_num,
           |  $minStr AS min_str, $maxStr AS max_str
           |FROM lineitem""".stripMargin
      }
      selects.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    })

  /** Fixed-width histogram of a numeric column — distribution profiling
    * before choosing partition bounds / spotting skew. Bucketing is
    * `floor(x / width)`: one IEEE double division, bit-identical on
    * both engines, and a pure column expression — the histogram is one
    * map-side-combined aggregate whose shuffle carries one row per
    * bucket, regardless of input size. */
  val histogram: Q = Q(
    "dq_histogram",
    (s, dir) => table(s, dir, "orders")
      .groupBy(floor(col("o_totalprice") / lit(50000.0)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("bucket"),
    Some(
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin))

  /** Cross-source reconciliation via FULL OUTER join — the audit that
    * finds both orphan detail rows and childless headers in one pass
    * (neither semi/anti direction alone can). Each side is thinned with
    * a modulus filter so both orphan classes genuinely occur in the
    * fixture. The detail side pre-aggregates to one row per key BEFORE
    * the join (decimal-exact), so the join is key-to-key, and every
    * output column is coalesced — a full-outer result with nullable
    * columns would hash differently per engine's null rendering. */
  val reconFullOuter: Q = Q(
    "dq_recon_full_outer",
    (s, dir) => {
      val lineAgg = table(s, dir, "lineitem")
        .filter(col("l_orderkey") % 89 =!= 0)
        .groupBy(col("l_orderkey"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("line_total"),
          count(lit(1)).as("n_lines"))
      val ord = table(s, dir, "orders")
        .filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      ord.join(lineAgg, col("o_orderkey") === col("l_orderkey"), "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("l_orderkey")).as("orderkey"),
          when(col("o_orderkey").isNull, lit("line_only"))
            .when(col("l_orderkey").isNull, lit("order_only"))
            .otherwise(lit("both")).as("status"),
          coalesce(col("o_totalprice"), lit(0.0)).as("order_total"),
          coalesce(col("line_total"), lit(0.0)).as("line_total"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"))
        .orderBy("orderkey")
    },
    Some(
      """WITH la AS (
        |  SELECT l_orderkey,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS line_total,
        |         count(*) AS n_lines
        |  FROM lineitem WHERE l_orderkey % 89 <> 0
        |  GROUP BY l_orderkey),
        |o AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 0)
        |SELECT COALESCE(o.o_orderkey, la.l_orderkey) AS orderkey,
        |       CASE WHEN o.o_orderkey IS NULL THEN 'line_only'
        |            WHEN la.l_orderkey IS NULL THEN 'order_only'
        |            ELSE 'both' END AS status,
        |       COALESCE(o.o_totalprice, 0.0) AS order_total,
        |       COALESCE(la.line_total, 0.0) AS line_total,
        |       COALESCE(la.n_lines, 0) AS n_lines
        |FROM o FULL OUTER JOIN la ON o.o_orderkey = la.l_orderkey
        |ORDER BY orderkey""".stripMargin))

  /** IQR outlier screen per event type: exact rank-based quartiles
    * (q1 at rank (n+1)//4, q3 at rank (3(n+1))//4 — pinned integer
    * ranks, fully tie-broken, same no-interpolation discipline as the
    * text quantile reports), Tukey fences at 1.5×IQR, and the count of
    * rows outside each fence. Two passes sharing one shuffle key: the
    * rank window partitions on event_type, the 5-row quartile table
    * broadcasts back onto the same partitioning for the fence counts —
    * the value stream never shuffles twice. Fence arithmetic is plain
    * double (*, -, + of 2-decimal sources) — IEEE-exact identically on
    * both engines. */
  val outlierIqr: Q = Q(
    "dq_outlier_iqr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = graft.etl.Sources.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      val byType = Window.partitionBy(col("event_type"))
      val ranked = e
        .withColumn("rn",
          row_number().over(byType.orderBy(col("value"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(byType))
      val quart = ranked.groupBy(col("event_type"))
        .agg(
          max(col("n")).as("n_rows"),
          min(when(col("rn") === ((col("n") + 1) / 4).cast("long"), col("value")))
            .as("q1"),
          min(when(col("rn") === ((col("n") + 1) * 3 / 4).cast("long"), col("value")))
            .as("q3"))
        .withColumn("lo_fence", col("q1") - (col("q3") - col("q1")) * 1.5)
        .withColumn("hi_fence", col("q3") + (col("q3") - col("q1")) * 1.5)
      e.join(broadcast(quart), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          max(col("n_rows")).as("n_rows"),
          max(col("q1")).as("q1"), max(col("q3")).as("q3"),
          count(when(col("value") < col("lo_fence"), 1)).as("n_low_outliers"),
          count(when(col("value") > col("hi_fence"), 1)).as("n_high_outliers"))
        .orderBy("event_type")
    },
    Some(
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |r AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value, event_id) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |q AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
        |         min(CASE WHEN rn = (n + 1) // 4 THEN value END) AS q1,
        |         min(CASE WHEN rn = (n + 1) * 3 // 4 THEN value END) AS q3
        |  FROM r GROUP BY event_type),
        |f AS (
        |  SELECT event_type, n_rows, q1, q3,
        |         q1 - (q3 - q1) * 1.5 AS lo_fence,
        |         q3 + (q3 - q1) * 1.5 AS hi_fence
        |  FROM q)
        |SELECT e.event_type, max(f.n_rows) AS n_rows,
        |       max(f.q1) AS q1, max(f.q3) AS q3,
        |       count(CASE WHEN e.value < f.lo_fence THEN 1 END) AS n_low_outliers,
        |       count(CASE WHEN e.value > f.hi_fence THEN 1 END) AS n_high_outliers
        |FROM e JOIN f USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY event_type""".stripMargin))

  /** Distribution-drift report between two time slices of the event
    * stream — the check a pipeline runs before accepting a new batch
    * whose category mix may have shifted. Statistic: per-category total
    * variation distance contributions, kept EXACT until the last step —
    * |cnt_a·N_b − cnt_b·N_a| is BIGINT arithmetic (a PSI/KL formulation
    * needs log, whose libm rounding differs across engines; TVD needs
    * only |·|), divided once in DOUBLE by 2·N_a·N_b. Plan: ONE pass over
    * events with conditional sums per category (a type present in only
    * one slice still surfaces — no join, no second scan); the grouped
    * table PERSISTS (category-cardinality rows — bytes) so the 1-row
    * totals genuinely re-aggregate from it rather than replanning the
    * event scan, and broadcast back. */
  val driftTvd: Q = Q(
    "dq_drift_tvd",
    (s, dir) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val perType = graft.etl.Sources.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("ts") < cut, 1L).otherwise(0L)).as("cnt_a"),
          sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("cnt_b"))
        .persist()
      val totals = perType.agg(
        sum(col("cnt_a")).as("total_a"), sum(col("cnt_b")).as("total_b"))
      perType.crossJoin(broadcast(totals))
        .select(col("event_type"), col("cnt_a"), col("cnt_b"),
          (col("cnt_a").cast("double") / col("total_a").cast("double"))
            .as("share_a"),
          (col("cnt_b").cast("double") / col("total_b").cast("double"))
            .as("share_b"),
          abs(col("cnt_a") * col("total_b") - col("cnt_b") * col("total_a"))
            .as("abs_diff_num"),
          (abs(col("cnt_a") * col("total_b") - col("cnt_b") * col("total_a"))
            .cast("double") /
            (lit(2L) * col("total_a") * col("total_b")).cast("double"))
            .as("tvd_contribution"))
        .orderBy("event_type")
    },
    Some(
      """WITH p AS (
        |  SELECT event_type,
        |         CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        |  FROM events GROUP BY event_type),
        |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS total_a,
        |             CAST(SUM(cnt_b) AS BIGINT) AS total_b FROM p)
        |SELECT event_type, cnt_a, cnt_b,
        |       CAST(cnt_a AS DOUBLE) / CAST(total_a AS DOUBLE) AS share_a,
        |       CAST(cnt_b AS DOUBLE) / CAST(total_b AS DOUBLE) AS share_b,
        |       abs(cnt_a * total_b - cnt_b * total_a) AS abs_diff_num,
        |       CAST(abs(cnt_a * total_b - cnt_b * total_a) AS DOUBLE) /
        |       CAST(2 * total_a * total_b AS DOUBLE) AS tvd_contribution
        |FROM p, t
        |ORDER BY event_type""".stripMargin))

  /** Benford first-digit conformance screen — the classic anomaly /
    * fraud test an audit pipeline runs over a money column: natural
    * multi-magnitude amounts put digit d first with probability
    * log10(1+1/d); a synthetic or tampered column (like TPC-H's
    * uniform totalprice — visible in this very report) deviates hard.
    * The report does not judge; it emits per-digit observed vs expected
    * shares so the deviation is hash-checked data.
    *
    * Float discipline: the first digit comes from floor() then BIGINT
    * (Spark CASTs double→long by truncation but DuckDB by rounding —
    * floor first pins both); the nine expected shares are
    * JVM-precomputed integer ppm literals baked into the same CASE text
    * on both engines (the HllEstConst move — no engine libm log10);
    * observed ppm is integer division. Every output column is exact
    * integer arithmetic. Plan: one map-side-combining groupBy to ≤9
    * rows, totals re-aggregated from the grouped table and broadcast
    * back. */
  val benfordDigits: Q = Q(
    "dq_benford",
    (s, dir) => {
      val expCase = (1 to 9).map { d =>
        val ppm = math.round(math.log10(1.0 + 1.0 / d) * 1000000.0)
        s"WHEN first_digit = $d THEN ${ppm}L"
      }.mkString("CASE ", " ", " END")
      val perDigit = table(s, dir, "orders")
        .select(expr(
          "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)")
          .as("first_digit"))
        .groupBy(col("first_digit")).agg(count(lit(1)).as("n_obs"))
        .persist()
      val total = perDigit.agg(sum(col("n_obs")).as("n_total"))
      perDigit.crossJoin(broadcast(total))
        .select(col("first_digit"), col("n_obs"),
          expr("n_obs * 1000000 div n_total").as("obs_ppm"),
          expr(expCase).as("exp_ppm"),
          (expr("n_obs * 1000000 div n_total") - expr(expCase)).as("dev_ppm"))
        .orderBy("first_digit")
    },
    Some {
      val expCase = (1 to 9).map { d =>
        val ppm = math.round(math.log10(1.0 + 1.0 / d) * 1000000.0)
        s"WHEN first_digit = $d THEN CAST($ppm AS BIGINT)"
      }.mkString("CASE ", " ", " END")
      s"""WITH p AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
         |                     1, 1) AS INT) AS first_digit,
         |         count(*) AS n_obs
         |  FROM orders GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM p)
         |SELECT first_digit, n_obs,
         |       n_obs * 1000000 // n_total AS obs_ppm,
         |       $expCase AS exp_ppm,
         |       n_obs * 1000000 // n_total - $expCase AS dev_ppm
         |FROM p, t
         |ORDER BY first_digit""".stripMargin
    })

  /** Order-insensitive table-checksum reconciliation — the O(1)-output
    * screen a migration runs on source and replica BEFORE paying for
    * row-level recon ([[reconFullOuter]]): per side, the row count, a
    * bit_xor of engine-neutral 48-bit row hashes, and a modular hash
    * sum (xor alone is blind to rows duplicated an even number of
    * times; the mod-p sum catches those, and 2^30-bounded summands over
    * any realistic row count stay far from long overflow). Money enters
    * the row hash as exact CENTS (round(×100) → BIGINT) — hashing a
    * double's string rendering would diverge between engines. One
    * aggregate pass per side, no shuffle of row data, output is one
    * row regardless of table size. The replica plants one dropped-row
    * set and one mutated-price set, so the mismatch is exercised, not
    * asserted. */
  val checksumRecon: Q = Q(
    "dq_checksum_recon",
    (s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val hv = s"(${SketchQueries.hexValSql(
        "md5(CAST(o_orderkey AS STRING) || '|' || CAST(o_custkey AS STRING) || '|' || CAST(cents AS STRING))")} % 1000000007L)"
      def side(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("cents", cents)
        .selectExpr(s"$hv AS hv")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(hv)").as("xor_sum"),
          sum(col("hv")).as("mod_sum"))
      val src = side(table(s, dir, "orders"))
      val rep = side(table(s, dir, "orders")
        .filter(col("o_orderkey") % 997 =!= 1)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 1009 === 2, col("o_totalprice") + 0.01)
            .otherwise(col("o_totalprice"))))
      src.toDF("n_src", "xor_src", "sum_src")
        .crossJoin(rep.toDF("n_rep", "xor_rep", "sum_rep"))
        .select(col("n_src"), col("n_rep"), col("xor_src"), col("xor_rep"),
          col("sum_src"), col("sum_rep"),
          when(col("n_src") === col("n_rep") &&
            col("xor_src") === col("xor_rep") &&
            col("sum_src") === col("sum_rep"), 1L).otherwise(0L)
            .as("tables_match"))
    },
    Some {
      val hv = s"(${SketchQueries.hexValSqlDdb(
        "md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || CAST(cents AS VARCHAR))")} % 1000000007)"
      s"""WITH src0 AS (
         |  SELECT o_orderkey, o_custkey,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |rep0 AS (
         |  SELECT o_orderkey, o_custkey,
         |         CAST(round(CASE WHEN o_orderkey % 1009 = 2
         |                         THEN o_totalprice + 0.01
         |                         ELSE o_totalprice END * 100) AS BIGINT) AS cents
         |  FROM orders WHERE o_orderkey % 997 <> 1),
         |a AS (SELECT count(*) AS n_src, bit_xor($hv) AS xor_src,
         |             CAST(sum($hv) AS BIGINT) AS sum_src FROM src0),
         |b AS (SELECT count(*) AS n_rep, bit_xor($hv) AS xor_rep,
         |             CAST(sum($hv) AS BIGINT) AS sum_rep FROM rep0)
         |SELECT n_src, n_rep, xor_src, xor_rep, sum_src, sum_rep,
         |       CAST(CASE WHEN n_src = n_rep AND xor_src = xor_rep
         |                  AND sum_src = sum_rep THEN 1 ELSE 0 END AS BIGINT)
         |         AS tables_match
         |FROM a, b""".stripMargin
    })

  // ------------------------------------------- referential integrity

  /** Deterministic parent-loss plant: parent keys ≡ 0 mod this drop out
    * of the kept set, so their children read as orphans — the partial-
    * parent-table-loss scenario an FK screen exists to catch (same
    * plant-the-defect discipline as [[checksumRecon]]). */
  private val FkLossMod = 1009L

  private case class Fk(name: String, childTable: String, childKey: String,
      parentTable: String, parentKey: String)

  private val Fks = Seq(
    Fk("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    Fk("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    Fk("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    Fk("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    Fk("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))

  /** Referential-integrity screen: per foreign key, child row count and
    * orphan count against a parent set that suffered a deterministic
    * partial loss ([[FkLossMod]]) — the pre-migration audit that says
    * which fact rows would dangle. Each FK is an independent branch:
    * a key-only child scan (one parquet column) left-anti-joined to the
    * distinct kept parent keys (dimension-sized — broadcast; for a
    * fact-sized parent AQE falls back to SMJ on the key), counts fold
    * map-side, and the ≤|FKs|-row report unions at the end. No branch
    * ever carries more than (child_key) per row. */
  val fkOrphans: Q = Q(
    "dq_fk_orphans",
    (s, dir) => {
      val reports = Fks.map { fk =>
        val child = table(s, dir, fk.childTable)
          .select(col(fk.childKey).cast("long").as("k"))
        val kept = table(s, dir, fk.parentTable)
          .select(col(fk.parentKey).cast("long").as("k"))
          .filter(col("k") % FkLossMod =!= 0).distinct()
        val orphans = child.join(kept, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("orphan_rows"))
        child.agg(count(lit(1)).as("child_rows"))
          .crossJoin(orphans)
          .select(lit(fk.name).as("fk"), col("child_rows"), col("orphan_rows"),
            (col("orphan_rows").cast("double") / col("child_rows").cast("double"))
              .as("orphan_frac"))
      }
      reports.reduce(_ unionAll _).orderBy("fk")
    },
    Some {
      val branches = Fks.map { fk =>
        s"""SELECT '${fk.name}' AS fk,
           |  (SELECT count(*) FROM ${fk.childTable}) AS child_rows,
           |  (SELECT count(*) FROM ${fk.childTable} c
           |   WHERE NOT EXISTS (
           |     SELECT 1 FROM ${fk.parentTable} p
           |     WHERE CAST(p.${fk.parentKey} AS BIGINT) = CAST(c.${fk.childKey} AS BIGINT)
           |       AND CAST(p.${fk.parentKey} AS BIGINT) % $FkLossMod <> 0)) AS orphan_rows""".stripMargin
      }
      branches.map(b => s"($b)").mkString("WITH u AS (\n", "\nUNION ALL\n", ")\n") +
        s"""SELECT fk, CAST(child_rows AS BIGINT) AS child_rows,
           |       CAST(orphan_rows AS BIGINT) AS orphan_rows,
           |       CAST(orphan_rows AS DOUBLE) / CAST(child_rows AS DOUBLE) AS orphan_frac
           |FROM u ORDER BY fk""".stripMargin
    })

  // ----------------------------------------------- key uniqueness

  private case class KeyAudit(name: String, tbl: String, keys: Seq[String])

  /** Candidate keys to audit. `orders.o_custkey` is the planted NON-key
    * canary (a uniqueness audit that only ever prints zeros is
    * untested) — and the audit immediately earned its keep: the
    * fixture's `lineitem (l_orderkey, l_linenumber)` composite, a true
    * key in real TPC-H, is NOT unique in this synthetic data
    * (max multiplicity 6 at sf0.01) — exactly the discovery this
    * report exists to surface before a load declares a primary key. */
  private val AuditedKeys = Seq(
    KeyAudit("customer.c_custkey", "customer", Seq("c_custkey")),
    KeyAudit("lineitem.(l_orderkey,l_linenumber)", "lineitem",
      Seq("l_orderkey", "l_linenumber")),
    KeyAudit("orders.o_custkey[non-key canary]", "orders", Seq("o_custkey")),
    KeyAudit("orders.o_orderkey", "orders", Seq("o_orderkey")),
    KeyAudit("part.p_partkey", "part", Seq("p_partkey")))

  /** Key-uniqueness audit: per candidate key, total rows, distinct key
    * values, duplicated surplus and the worst multiplicity — the load-
    * time primary-key check. Each branch is a two-level aggregate
    * (groupBy key with map-side combine → 1-row fold), so the shuffle
    * carries distinct keys, never rows; the report is ≤|keys| rows. */
  val keyUniqueness: Q = Q(
    "dq_key_uniqueness",
    (s, dir) => {
      val reports = AuditedKeys.map { ka =>
        table(s, dir, ka.tbl)
          .groupBy(ka.keys.map(col): _*)
          .agg(count(lit(1)).as("m"))
          .agg(
            sum(col("m")).as("n_rows"),
            count(lit(1)).as("n_distinct"),
            (sum(col("m")) - count(lit(1))).as("dup_surplus"),
            max(col("m")).as("max_mult"))
          .select(lit(ka.name).as("key_name"), col("n_rows"),
            col("n_distinct"), col("dup_surplus"), col("max_mult"))
      }
      reports.reduce(_ unionAll _).orderBy("key_name")
    },
    Some {
      val branches = AuditedKeys.map { ka =>
        val keyList = ka.keys.mkString(", ")
        s"""SELECT '${ka.name}' AS key_name,
           |       CAST(sum(m) AS BIGINT) AS n_rows,
           |       count(*) AS n_distinct,
           |       CAST(sum(m) - count(*) AS BIGINT) AS dup_surplus,
           |       CAST(max(m) AS BIGINT) AS max_mult
           |FROM (SELECT count(*) AS m FROM ${ka.tbl} GROUP BY $keyList)""".stripMargin
      }
      branches.map(b => s"($b)").mkString("", "\nUNION ALL\n", "\nORDER BY key_name")
    })

  /** Batch-over-batch column-profile drift — the schema-level companion
    * to [[driftTvd]] (which tracks one column's distribution): the SAME
    * per-column profile metrics a landing-zone monitor snapshots per
    * batch (row count, key cardinalities, null rate, magnitude), for
    * the two time-split halves side by side with signed deltas. A
    * profile-drift alarm is what catches upstream schema rot (a feed
    * silently nulling a column, an id range reset, a unit change)
    * before it poisons downstream loads.
    *
    * One scan: both batches' metrics are conditional aggregates of a
    * single pass (no per-batch re-scan), folded to one row, then
    * unpivoted driver-free via stack() into the (metric, a, b, delta)
    * report — at 100 TB the cost is the scan, the report is 5 rows.
    * Ratios and means are exact-integer divisions in double (counts
    * and cents), identical trees both engines. */
  val profileDrift: Q = Q(
    "dq_profile_drift",
    (s, dir) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val inA = col("ts") < cut
      val inB = !inA
      val agg = graft.etl.Sources.events(s, dir)
        .agg(
          sum(when(inA, 1L).otherwise(0L)).as("n_a"),
          sum(when(inB, 1L).otherwise(0L)).as("n_b"),
          countDistinct(when(inA, col("user_id"))).as("u_a"),
          countDistinct(when(inB, col("user_id"))).as("u_b"),
          countDistinct(when(inA, col("event_type"))).as("t_a"),
          countDistinct(when(inB, col("event_type"))).as("t_b"),
          sum(when(inA && col("value").isNull, 1L).otherwise(0L)).as("nv_a"),
          sum(when(inB && col("value").isNull, 1L).otherwise(0L)).as("nv_b"),
          sum(when(inA, (col("value").cast("decimal(18,2)") * 100).cast("long"))).as("c_a"),
          sum(when(inB, (col("value").cast("decimal(18,2)") * 100).cast("long"))).as("c_b"))
      agg.selectExpr(
        """stack(5,
          |  'n_rows',          CAST(n_a AS DOUBLE), CAST(n_b AS DOUBLE),
          |  'n_distinct_users',CAST(u_a AS DOUBLE), CAST(u_b AS DOUBLE),
          |  'n_distinct_types',CAST(t_a AS DOUBLE), CAST(t_b AS DOUBLE),
          |  'null_rate_value', CAST(nv_a AS DOUBLE) / CAST(n_a AS DOUBLE),
          |                     CAST(nv_b AS DOUBLE) / CAST(n_b AS DOUBLE),
          |  'mean_value',      CAST(c_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0),
          |                     CAST(c_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0)
          |) AS (metric, batch_a, batch_b)""".stripMargin)
        .withColumn("delta", col("batch_b") - col("batch_a"))
        .orderBy("metric")
    },
    Some(
      """WITH agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    count(DISTINCT CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' THEN user_id END) AS u_a,
        |    count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN user_id END) AS u_b,
        |    count(DISTINCT CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' THEN event_type END) AS t_a,
        |    count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN event_type END) AS t_b,
        |    CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nv_a,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nv_b,
        |    CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS c_a,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS c_b
        |  FROM events),
        |rep AS (
        |  SELECT 'n_rows' AS metric, CAST(n_a AS DOUBLE) AS batch_a, CAST(n_b AS DOUBLE) AS batch_b FROM agg
        |  UNION ALL
        |  SELECT 'n_distinct_users', CAST(u_a AS DOUBLE), CAST(u_b AS DOUBLE) FROM agg
        |  UNION ALL
        |  SELECT 'n_distinct_types', CAST(t_a AS DOUBLE), CAST(t_b AS DOUBLE) FROM agg
        |  UNION ALL
        |  SELECT 'null_rate_value', CAST(nv_a AS DOUBLE) / CAST(n_a AS DOUBLE),
        |                            CAST(nv_b AS DOUBLE) / CAST(n_b AS DOUBLE) FROM agg
        |  UNION ALL
        |  SELECT 'mean_value', CAST(c_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0),
        |                       CAST(c_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0) FROM agg)
        |SELECT metric, batch_a, batch_b, batch_b - batch_a AS delta
        |FROM rep
        |ORDER BY metric""".stripMargin))

  /** Join-fanout health screen — run BEFORE a 100 TB join: per join
    * key, the left×right multiplicity product is the join's output
    * contribution, and a handful of hot keys can explode a "1:N"
    * assumption into terabytes. The screen buckets keys by their
    * output multiplicity (log₂ buckets), reporting key counts, actual
    * output rows per bucket, and the exact total — versus the naive
    * |L|+|R| intuition — so the explosion is visible from two
    * map-side-combined aggregates WITHOUT running the join. Fixture:
    * lineitem ⋈ lineitem-by-partkey (a genuine many-to-many: parts
    * repeat ~30× at sf0.01). Σ cnt_l·cnt_r over keys is exactly the
    * join's output size — the oracle cross-checks the closed form. */
  val joinFanout: Q = Q(
    "dq_join_fanout",
    (s, dir) => {
      val l = table(s, dir, "lineitem").groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("cnt_l"))
      val r = table(s, dir, "part").select(col("p_partkey").as("k"))
        .unionAll(table(s, dir, "lineitem")
          .filter(col("l_linenumber") === 1).select(col("l_partkey").as("k")))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt_r"))
      l.join(r, Seq("k"))
        .select(col("k"), (col("cnt_l") * col("cnt_r")).as("out_rows"))
        .groupBy(expr("CAST(length(bin(out_rows)) AS BIGINT)").as("multiplicity_bucket"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("out_rows")).cast("long").as("output_rows"),
          max(col("out_rows")).cast("long").as("worst_key_rows"))
        .orderBy("multiplicity_bucket")
    },
    Some(
      """WITH l AS (SELECT l_partkey AS k, count(*) AS cnt_l FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT k, count(*) AS cnt_r FROM (
        |    SELECT p_partkey AS k FROM part
        |    UNION ALL
        |    SELECT l_partkey FROM lineitem WHERE l_linenumber = 1)
        |  GROUP BY k),
        |m AS (
        |  SELECT l.k, cnt_l * cnt_r AS out_rows
        |  FROM l JOIN r USING (k))
        |SELECT CAST(length(bin(out_rows)) AS BIGINT) AS multiplicity_bucket,
        |       count(*) AS n_keys,
        |       CAST(SUM(out_rows) AS BIGINT) AS output_rows,
        |       CAST(MAX(out_rows) AS BIGINT) AS worst_key_rows
        |FROM m
        |GROUP BY 1
        |ORDER BY multiplicity_bucket""".stripMargin))

  /** The columns [[profileWide]] profiles — every lineitem column, with
    * the canonical cross-engine string rendering each type hashes and
    * compares under:
    *   int    — plain decimal digits (identical CAST text both engines)
    *   double — via DECIMAL(18,4) ("0.0400" both engines; a raw double
    *            cast would hit each engine's own shortest-round-trip
    *            formatter)
    *   string — as-is
    *   ts     — ISO 'yyyy-MM-dd HH:mm:ss' (lexicographic = chronologic,
    *            so string min/max double as temporal min/max)
    */
  private[graft] case class WCol(name: String, kind: String)
  private[graft] val WideCols = Seq(
    WCol("l_orderkey", "int"), WCol("l_partkey", "int"),
    WCol("l_suppkey", "int"), WCol("l_linenumber", "int"),
    WCol("l_quantity", "dbl"), WCol("l_extendedprice", "dbl"),
    WCol("l_discount", "dbl"), WCol("l_tax", "dbl"),
    WCol("l_returnflag", "str"), WCol("l_linestatus", "str"),
    WCol("l_shipdate", "ts"))
  private def canonSpark(c: WCol): String = c.kind match {
    case "int" => s"CAST(${c.name} AS STRING)"
    case "dbl" => s"CAST(CAST(${c.name} AS DECIMAL(18,4)) AS STRING)"
    case "str" => c.name
    case "ts"  => s"date_format(${c.name}, 'yyyy-MM-dd HH:mm:ss')"
  }
  private def canonDdb(c: WCol): String = c.kind match {
    case "int" => s"CAST(${c.name} AS VARCHAR)"
    case "dbl" => s"CAST(CAST(${c.name} AS DECIMAL(18,4)) AS VARCHAR)"
    case "str" => c.name
    case "ts"  => s"strftime(${c.name}, '%Y-%m-%d %H:%M:%S')"
  }
  private def numExpr(c: WCol): String =
    if (c.kind == "int" || c.kind == "dbl") s"CAST(${c.name} AS DOUBLE)"
    else "CAST(NULL AS DOUBLE)"

  /** The wide-table profile (round-10 verdict task 6): [[profile]]'s
    * per-column-branch shape reads one narrow parquet column per branch
    * — right at 4 columns, linear-in-columns at 100. This is the
    * single-pass alternative for wide tables: ONE scan, each row
    * unpivoted to (column, canonical-string, numeric) entries
    * (`explode` of a struct array — a Generate over the scan, never a
    * per-column re-read), then a two-level aggregate:
    *
    *   level 1 (col_name, hll_bucket): count / null-count / min / max
    *     partials AND the per-bucket max HLL rank — map-side combined,
    *     the shuffle carries ≤ cols×(m+1) rows regardless of input size
    *   level 2 (col_name): totals, min/max folds, and the HLL estimate
    *     from the 256 registers
    *
    * Distincts are the [[SketchQueries.hllDistinct]] estimator (the
    * md5-derived engine-neutral sketch — ±6.5% at m=256), NOT exact:
    * that is the wide-table trade the scaladoc on [[profile]] names —
    * P exact distincts cost P shuffles of distinct values; one HLL pass
    * costs a fixed 256-register state per column, and the DuckDB oracle
    * replays the estimate bit-for-bit. The unpivot multiplies map-side
    * rows ×P before combining (the per-entry cost of profiling P
    * columns at once); nothing downstream of the first aggregate
    * depends on input size. PlanShapeSpec pins the ONE-scan shape. */
  /** [[profileWide]]'s one-scan frame over an ARBITRARY source and
    * column set — factored out (r13) so the ≥50-column plan pin
    * (PlanShapeSpec) runs the exact production shape instead of a test
    * re-implementation. The staged r11 fix this shape carries (25.3 s →
    * 2.75 s at sf0.1) and its per-column marginal cost are recorded in
    * PERF.md ("Round 11 `dq_profile_wide` staged fix", "Round 13
    * `dq_profile_wide` per-column marginal cost"). */
  private[graft] def wideProfileFrame(
      src: DataFrame, cols: Seq[WCol], parallelism: Int): DataFrame = {
    import SketchQueries.{rhoSql, HllM, HllWBits, HllEstConst}
    val numericNames = cols.filter(c => c.kind == "int" || c.kind == "dbl")
      .map(_.name)
    val entries = cols.map { c =>
      struct(lit(c.name).as("col_name"),
        expr(canonSpark(c)).as("sval"),
        expr(numExpr(c)).as("nval"),
        // string-channel min/max candidate: NULL for numeric columns
        // (their min/max rides nval and the string extremes were
        // discarded at the end anyway) — min/max skip nulls, so 8 of
        // 11 entries cost a null-check instead of a var-length
        // buffer-row rewrite in the hash aggregate (measured 18.8 s
        // -> 6.7 s on the level-1 agg at sf0.1 pre-scatter)
        (if (c.kind == "int" || c.kind == "dbl") lit(null).cast("string")
         else expr(canonSpark(c))).as("sval_mm"))
    }
    // the sf-dir tables are ONE parquet file = one scan partition;
    // everything from the explode to the md5 is map-side CPU behind
    // it and would run single-threaded (the codec-tier lesson,
    // PERF.md r10) — scatter the narrow source rows first (measured
    // 20.4 s -> 2.75 s at sf0.1 on 32 cores)
    src.repartition(parallelism)
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.sval").as("sval"),
        col("e.nval").as("nval"), col("e.sval_mm").as("sval_mm"))
      // same 48-bit value as SketchQueries.hexValSql, via codegen'd
      // conv() instead of 12 instr/substr string probes per entry —
      // this runs once per (row × column) so the constant matters
      // (part of the 25.3 s -> 2.75 s fix at sf0.1, PERF.md r11); the oracle keeps the
      // positional-arithmetic spelling, which is cheap at oracle scale
      .withColumn("hv",
        expr("CAST(conv(substr(md5(sval), 1, 12), 16, 10) AS BIGINT)"))
      .select(col("col_name"), col("sval"), col("nval"), col("sval_mm"),
        (col("hv") % HllM).as("bucket"),
        expr(rhoSql(s"(hv div $HllM)")).as("rho"))
      .groupBy(col("col_name"), col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          count(when(col("sval").isNull, lit(1))).as("nulls"),
          max(col("rho")).as("r"),
          min(col("nval")).as("mnn"), max(col("nval")).as("mxn"),
          min(col("sval_mm")).as("mns"), max(col("sval_mm")).as("mxs"))
        .groupBy(col("col_name"))
        .agg(sum(col("cnt")).cast("long").as("n"),
          sum(col("nulls")).cast("long").as("n_null"),
          count(when(col("bucket").isNotNull, lit(1))).as("n_occupied"),
          coalesce(
            sum(when(col("bucket").isNotNull,
              expr(s"shiftleft(1L, ${HllWBits + 1} - r)"))), lit(0L))
            .as("occ_sum"),
          min(col("mnn")).as("min_n"), max(col("mxn")).as("max_n"),
          min(col("mns")).as("min_s"), max(col("mxs")).as("max_s"))
        .select(col("col_name"), col("n"), col("n_null"),
          (lit(HllM.toLong) - col("n_occupied")).as("v_empty"),
          (expr(s"CAST($HllEstConst AS DOUBLE)") /
            (col("occ_sum") +
              (lit(HllM.toLong) - col("n_occupied")) *
                lit(1L << (HllWBits + 1))).cast("double")).as("est_distinct"),
          col("min_n").as("min_num"), col("max_n").as("max_num"),
          when(col("col_name").isin(numericNames: _*),
            lit(null).cast("string")).otherwise(col("min_s")).as("min_str"),
          when(col("col_name").isin(numericNames: _*),
            lit(null).cast("string")).otherwise(col("max_s")).as("max_str"))
        .orderBy("col_name")
  }

  /** Deterministic P-column widening of lineitem — measurement/pin
    * support for the linear-in-columns claim on [[profileWide]] (r12
    * verdict task 6): column i cycles int/dbl/str/ts, each derived
    * from a lineitem column so value widths and distributions stay
    * realistic. Returns the widened frame (write it to parquet before
    * profiling — the one-scan pin is about the SCAN, not an in-memory
    * projection) plus its WCol descriptors. */
  private[graft] def syntheticWide(src: DataFrame, p: Int): (DataFrame, Seq[WCol]) = {
    val specs = (0 until p).map { i =>
      i % 4 match {
        case 0 => (expr(s"l_orderkey * 31 + $i"), WCol(s"w$i", "int"))
        case 1 => (expr(s"l_extendedprice * (1.0d + $i * 0.01d)"), WCol(s"w$i", "dbl"))
        case 2 => (expr(s"concat(l_returnflag, '_', CAST((l_partkey + $i) % 97 AS STRING))"),
          WCol(s"w$i", "str"))
        case _ => (expr("l_shipdate"), WCol(s"w$i", "ts"))
      }
    }
    (src.select(specs.map { case (e, c) => e.as(c.name) }: _*), specs.map(_._2))
  }

  val profileWide: Q = Q(
    "dq_profile_wide",
    (s, dir) => wideProfileFrame(
      table(s, dir, "lineitem"), WideCols, s.sparkContext.defaultParallelism),
    Some {
      import SketchQueries.{hexValSqlDdb, rhoSql, HllM, HllWBits, HllEstConst}
      val branches = WideCols.map { c =>
        val numeric = c.kind == "int" || c.kind == "dbl"
        val (minN, maxN) =
          if (numeric) ("CAST(min(nv) AS DOUBLE)", "CAST(max(nv) AS DOUBLE)")
          else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
        val (minS, maxS) =
          if (numeric) ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          else ("min(s)", "max(s)")
        s"""SELECT '${c.name}' AS col_name, st.n, st.n_null,
           |  CAST($HllM - reg.n_occupied AS BIGINT) AS v_empty,
           |  CAST($HllEstConst AS DOUBLE) /
           |    CAST(reg.occ_sum + ($HllM - reg.n_occupied)
           |         * (CAST(1 AS BIGINT) << ${HllWBits + 1}) AS DOUBLE) AS est_distinct,
           |  st.min_num, st.max_num, st.min_str, st.max_str
           |FROM
           | (SELECT count(*) AS n,
           |         CAST(SUM(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |         $minN AS min_num, $maxN AS max_num,
           |         $minS AS min_str, $maxS AS max_str
           |  FROM (SELECT ${canonDdb(c)} AS s, ${numExpr(c)} AS nv FROM lineitem)) st,
           | (SELECT count(*) AS n_occupied,
           |         COALESCE(CAST(sum(CAST(1 AS BIGINT) << (${HllWBits + 1} - r)) AS BIGINT), 0) AS occ_sum
           |  FROM (SELECT bucket, max(rho) AS r FROM
           |        (SELECT hv % $HllM AS bucket, ${rhoSql(s"(hv // $HllM)")} AS rho
           |         FROM (SELECT ${hexValSqlDdb("md5(s)")} AS hv
           |               FROM (SELECT ${canonDdb(c)} AS s FROM lineitem)
           |               WHERE s IS NOT NULL) hvt) bt
           |        GROUP BY bucket) regs) reg""".stripMargin
      }
      branches.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    })

  def all: Seq[Q] = Seq(profile, histogram, reconFullOuter, outlierIqr, joinFanout,
    driftTvd, benfordDigits, checksumRecon, fkOrphans, keyUniqueness,
    profileDrift, profileWide)
}
