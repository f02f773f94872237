package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry.Q
import graft.etl.Sources

/** Temporal join operators over the `events` table — the two join shapes
  * Spark has no native operator for, each built the way it survives
  * 100 TB:
  *
  *  - AS-OF join ([[asofLastError]]): attach to each fact row the most
  *    recent marker row at-or-before it. NOT implemented as a per-key
  *    lateral/subquery (O(facts·markers) probes) or a per-key
  *    `mapGroups` materialization (unbounded memory on a heavy key);
  *    instead both sides union into ONE stream, a single
  *    partition-by-key sort orders it, and a running `last(_, ignore
  *    nulls)` carries the latest marker forward — one shuffle, one
  *    sort, O(1) state per row, any key skew handled by AQE the same
  *    way any window is.
  *
  *  - RANGE (interval) join ([[rangeBurst]]): aggregate the fact rows
  *    falling in a fixed-width time window after each marker. A raw
  *    `t BETWEEN lo AND hi` join condition degenerates to
  *    BroadcastNestedLoopJoin (per-pair predicate, O(markers·facts));
  *    instead both sides are binned to window-width buckets, markers
  *    replicate to the 2 buckets their window can overlap, the join is
  *    an EQUI-join on (user, bucket) — shuffle-hash-joinable, skew-
  *    salvageable — and the exact interval predicate filters the
  *    bucket-local candidates. Candidate count ≈ bucket occupancy, not
  *    |markers|·|facts|.
  */
object TemporalJoinQueries {

  /** Marker stream: 'error' events. Facts: everything else. */
  private val MarkerType = "error"

  /** As-of join: every non-error event, annotated with the user's most
    * recent error at-or-before it (timestamp, value, and the gap). Tie
    * rules are pinned so both engines agree: a marker AT the fact's
    * exact timestamp counts ("at or before"); equal-timestamp markers
    * resolve to the highest event_id (sort is (ts, side, event_id) with
    * markers first). Timestamps travel as epoch micros (BIGINT) — no
    * engine-dependent timestamp rendering in the compared output. */
  val asofLastError: Q = Q(
    "events_asof_lastmark",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val marks = e.filter(col("event_type") === MarkerType)
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(0).as("side"),
          unix_micros(col("ts")).as("m_ts_us"), col("value").as("m_value"))
      val facts = e.filter(col("event_type") =!= MarkerType)
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(1).as("side"),
          lit(null).cast("long").as("m_ts_us"),
          lit(null).cast("double").as("m_value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      marks.unionAll(facts)
        .withColumn("last_err_us", last(col("m_ts_us"), ignoreNulls = true).over(w))
        .withColumn("last_err_value", last(col("m_value"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("last_err_us"), col("last_err_value"),
          (unix_micros(col("ts")) - col("last_err_us")).as("gap_us"))
        .orderBy("event_id")
    },
    Some(
      s"""WITH e AS (SELECT event_id, user_id, ts, event_type, value FROM events),
         |u AS (
         |  SELECT event_id, user_id, ts, 0 AS side,
         |         epoch_us(ts) AS m_ts_us, value AS m_value
         |  FROM e WHERE event_type = '$MarkerType'
         |  UNION ALL
         |  SELECT event_id, user_id, ts, 1,
         |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
         |  FROM e WHERE event_type <> '$MarkerType'),
         |w AS (
         |  SELECT event_id, user_id, ts, side,
         |         last_value(m_ts_us IGNORE NULLS) OVER win AS last_err_us,
         |         last_value(m_value IGNORE NULLS) OVER win AS last_err_value
         |  FROM u
         |  WINDOW win AS (
         |    PARTITION BY user_id ORDER BY ts, side, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |       last_err_us, last_err_value,
         |       epoch_us(ts) - last_err_us AS gap_us
         |FROM w WHERE side = 1
         |ORDER BY event_id""".stripMargin))

  /** Staleness bound for [[asofTolerance]]: 6 hours in micros (chosen
    * against the fixture's marker density so all three populations —
    * fresh, stale, never-marked — are non-empty and gated). */
  val TolUs: Long = 6L * 3600 * 1000000

  /** As-of join with a staleness tolerance — the market-data variant
    * (`pd.merge_asof(..., tolerance=...)` / kdb `wj` with a window):
    * a carried marker OLDER than [[TolUs]] is rejected as stale (a
    * quote that old is not a price), so the enrichment is NULL and the
    * row is flagged rather than silently joined to ancient state.
    * Same one-shuffle union-window shape and (ts, side, event_id) tie
    * rules as [[asofLastError]]; the tolerance is a pure projection on
    * the carried gap — no extra shuffle, no second window. */
  val asofTolerance: Q = Q(
    "events_asof_tolerance",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val marks = e.filter(col("event_type") === MarkerType)
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(0).as("side"),
          unix_micros(col("ts")).as("m_ts_us"), col("value").as("m_value"))
      val facts = e.filter(col("event_type") =!= MarkerType)
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(1).as("side"),
          lit(null).cast("long").as("m_ts_us"),
          lit(null).cast("double").as("m_value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fresh = col("last_us").isNotNull &&
        (unix_micros(col("ts")) - col("last_us")) <= TolUs
      marks.unionAll(facts)
        .withColumn("last_us", last(col("m_ts_us"), ignoreNulls = true).over(w))
        .withColumn("last_v", last(col("m_value"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          when(fresh, col("last_us")).as("mark_ts_us"),
          when(fresh, col("last_v")).as("mark_value"),
          when(col("last_us").isNotNull && !fresh, lit(1L)).otherwise(lit(0L))
            .as("stale"))
        .orderBy("event_id")
    },
    Some(
      s"""WITH e AS (SELECT event_id, user_id, ts, event_type, value FROM events),
         |u AS (
         |  SELECT event_id, user_id, ts, 0 AS side,
         |         epoch_us(ts) AS m_ts_us, value AS m_value
         |  FROM e WHERE event_type = '$MarkerType'
         |  UNION ALL
         |  SELECT event_id, user_id, ts, 1,
         |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
         |  FROM e WHERE event_type <> '$MarkerType'),
         |w AS (
         |  SELECT event_id, user_id, ts, side,
         |         last_value(m_ts_us IGNORE NULLS) OVER win AS last_us,
         |         last_value(m_value IGNORE NULLS) OVER win AS last_v
         |  FROM u
         |  WINDOW win AS (
         |    PARTITION BY user_id ORDER BY ts, side, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |       CASE WHEN last_us IS NOT NULL AND epoch_us(ts) - last_us <= $TolUs
         |            THEN last_us END AS mark_ts_us,
         |       CASE WHEN last_us IS NOT NULL AND epoch_us(ts) - last_us <= $TolUs
         |            THEN last_v END AS mark_value,
         |       CASE WHEN last_us IS NOT NULL AND epoch_us(ts) - last_us > $TolUs
         |            THEN 1 ELSE 0 END AS stale
         |FROM w WHERE side = 1
         |ORDER BY event_id""".stripMargin))

  /** Range-join window: 12 hours in micros. Bucket width equals the
    * window width, so a marker's window spans at most 2 buckets — the
    * replication factor is a constant 2 at any scale. Public: the
    * brute-force spec twin and the streaming twin must use THIS value,
    * not their own literals, or they silently stop testing the query. */
  val WindowUs: Long = 12L * 3600 * 1000000

  /** Range join: for every error event, how many fact events the same
    * user produced in the following 12 hours, and their exact value sum
    * (2-decimal source values summed in DECIMAL — accumulation-order
    * independent — and cast back to DOUBLE). Window is half-open
    * (marker_ts, marker_ts + 12h]: the marker itself never counts.
    * Markers with no followers stay in the output with 0/0.0. */
  val rangeBurst: Q = Q(
    "events_range_burst",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val marks = e.filter(col("event_type") === MarkerType)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("m_us"))
      val facts = e.filter(col("event_type") =!= MarkerType)
        .select(col("user_id"), unix_micros(col("ts")).as("f_us"), col("value"))
        .withColumn("bucket", floor(col("f_us") / WindowUs))
      val probes = marks.withColumn("b0", floor(col("m_us") / WindowUs))
        .select(col("event_id"), col("user_id"), col("m_us"),
          explode(array(col("b0"), col("b0") + 1)).as("bucket"))
      val agg = probes.join(facts, Seq("user_id", "bucket"))
        .filter(col("f_us") > col("m_us") && col("f_us") <= col("m_us") + WindowUs)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_follow"),
          sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
      marks.join(agg, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"), col("m_us").as("ts_us"),
          coalesce(col("n_follow"), lit(0L)).as("n_follow"),
          coalesce(col("sum_dec"), lit(0).cast("decimal(18,2)"))
            .cast("double").as("sum_value"))
        .orderBy("event_id")
    },
    Some(
      s"""WITH e AS (SELECT event_id, user_id, ts, event_type, value FROM events),
         |m AS (SELECT event_id, user_id, epoch_us(ts) AS m_us
         |      FROM e WHERE event_type = '$MarkerType'),
         |f AS (SELECT user_id, epoch_us(ts) AS f_us, value
         |      FROM e WHERE event_type <> '$MarkerType'),
         |agg AS (
         |  SELECT m.event_id, count(*) AS n_follow,
         |         sum(CAST(f.value AS DECIMAL(18,2))) AS sum_dec
         |  FROM m JOIN f ON f.user_id = m.user_id
         |   AND f.f_us > m.m_us AND f.f_us <= m.m_us + $WindowUs
         |  GROUP BY m.event_id)
         |SELECT m.event_id, m.user_id, m.m_us AS ts_us,
         |       COALESCE(a.n_follow, 0) AS n_follow,
         |       CAST(COALESCE(a.sum_dec, 0) AS DOUBLE) AS sum_value
         |FROM m LEFT JOIN agg a USING (event_id)
         |ORDER BY event_id""".stripMargin))

  /** Last-write-wins state compaction (the upsert/CDC-merge shape): fold
    * the event log into its current state — one row per (user_id,
    * event_type) carrying the latest event, ties to the highest
    * event_id. Same partial-aggregating argmax as the IVF assignment
    * (`max(struct(ts, id, payload))` — map-side combine reduces each
    * partition to one row per key, so the shuffle carries keys, not the
    * log). The rank-window formulation of "latest per key" shuffles the
    * whole log; this one never does. */
  val latestState: Q = Q(
    "events_latest_state",
    (s, dir) => Sources.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("m"),
        count(lit(1)).as("n_writes"))
      .select(col("user_id"), col("event_type"),
        col("m.ts_us").as("ts_us"), col("m.event_id").as("event_id"),
        col("m.value").as("value"), col("n_writes"))
      .orderBy("user_id", "event_type"),
    Some(
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value
         |  FROM events),
         |r AS (
         |  SELECT user_id, event_type, ts_us, event_id, value,
         |         ROW_NUMBER() OVER (
         |           PARTITION BY user_id, event_type
         |           ORDER BY ts_us DESC, event_id DESC) AS rn,
         |         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_writes
         |  FROM e)
         |SELECT user_id, event_type, ts_us, event_id, value, n_writes
         |FROM r WHERE rn = 1
         |ORDER BY user_id, event_type""".stripMargin))

  /** FORWARD as-of join: every non-error event annotated with the user's
    * NEXT error at-or-after it — the mirror of [[asofLastError]], same
    * single-union single-sort plan (one shuffle, O(1) state per row; no
    * per-key probing). The carry runs over the FOLLOWING frame instead
    * of the preceding one. Tie rules pinned: a marker AT the fact's
    * exact timestamp counts ("at or after"); ordering is (ts, side,
    * event_id) with facts first (side 0) so the same-timestamp marker
    * falls inside the CURRENT ROW → FOLLOWING frame; equal-timestamp
    * markers resolve to the LOWEST event_id (first in frame order). */
  val asofNextError: Q = Q(
    "events_asof_forward",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val facts = e.filter(col("event_type") =!= MarkerType)
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(0).as("side"),
          lit(null).cast("long").as("m_ts_us"),
          lit(null).cast("double").as("m_value"))
      val marks = e.filter(col("event_type") === MarkerType)
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(1).as("side"),
          unix_micros(col("ts")).as("m_ts_us"), col("value").as("m_value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      facts.unionAll(marks)
        .withColumn("next_err_us", first(col("m_ts_us"), ignoreNulls = true).over(w))
        .withColumn("next_err_value", first(col("m_value"), ignoreNulls = true).over(w))
        .filter(col("side") === 0)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("next_err_us"), col("next_err_value"),
          (col("next_err_us") - unix_micros(col("ts"))).as("gap_us"))
        .orderBy("event_id")
    },
    Some(
      s"""WITH e AS (SELECT event_id, user_id, ts, event_type, value FROM events),
         |u AS (
         |  SELECT event_id, user_id, ts, 0 AS side,
         |         CAST(NULL AS BIGINT) AS m_ts_us, CAST(NULL AS DOUBLE) AS m_value
         |  FROM e WHERE event_type <> '$MarkerType'
         |  UNION ALL
         |  SELECT event_id, user_id, ts, 1,
         |         epoch_us(ts), value
         |  FROM e WHERE event_type = '$MarkerType'),
         |w AS (
         |  SELECT event_id, user_id, ts, side,
         |         first_value(m_ts_us IGNORE NULLS) OVER win AS next_err_us,
         |         first_value(m_value IGNORE NULLS) OVER win AS next_err_value
         |  FROM u
         |  WINDOW win AS (
         |    PARTITION BY user_id ORDER BY ts, side, event_id
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |       next_err_us, next_err_value,
         |       next_err_us - epoch_us(ts) AS gap_us
         |FROM w WHERE side = 0
         |ORDER BY event_id""".stripMargin))

  /** SCD Type-2 dimension build from a change log: fold each user's
    * event stream into versioned state rows with half-open validity
    * ranges [valid_from, valid_to) — the warehouse shape the reference's
    * snapshot loads approximate by re-inserting full copies
    * (cartera.py's daily snapshot table). Three window passes over ONE
    * (user_id)-partitioned sort — Catalyst reuses the single shuffle +
    * sort for all of them (lag → run-id prefix-sum → lead), so the whole
    * build is one exchange at any scale:
    *  1. run-length encode consecutive identical states (lag ≠ current
    *     starts a new run; re-assertions of the same state collapse);
    *  2. first event of each run opens a version (valid_from);
    *  3. lead(valid_from) closes it (valid_to; NULL = current row). */
  val scd2State: Q = Q(
    "events_scd2_state",
    (s, dir) => {
      val byTs = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val runs = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byRun = Window.partitionBy(col("user_id")).orderBy(col("version"))
      Sources.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type").as("state"))
        .withColumn("chg",
          when(lag(col("state"), 1).over(byTs).isNull ||
            lag(col("state"), 1).over(byTs) =!= col("state"), 1L).otherwise(0L))
        .withColumn("run_id", sum(col("chg")).over(runs))
        .groupBy(col("user_id"), col("run_id"))
        .agg(min(struct(col("ts_us"), col("event_id"))).as("o"),
          first(col("state")).as("state"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("run_id").as("version"),
          col("state"), col("o.ts_us").as("valid_from_us"), col("n_events"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byRun))
        .withColumn("is_current", col("valid_to_us").isNull)
        .orderBy("user_id", "version")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type AS state
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_id, ts_us, state,
        |         CASE WHEN lag(state) OVER w IS NULL
        |                OR lag(state) OVER w <> state THEN 1 ELSE 0 END AS chg
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT user_id, ts_us, state,
        |         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS run_id
        |  FROM c),
        |v AS (
        |  SELECT user_id, run_id AS version, min(state) AS state,
        |         min(ts_us) AS valid_from_us, count(*) AS n_events
        |  FROM r GROUP BY user_id, run_id)
        |SELECT user_id, version, state, valid_from_us, n_events,
        |       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
        |         AS valid_to_us,
        |       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
        |         IS NULL AS is_current
        |FROM v
        |ORDER BY user_id, version""".stripMargin))

  /** Ordered funnel (view → click → purchase): per user, the earliest
    * timestamp of each stage where every stage must STRICTLY follow the
    * previous one. Built as staged conditional aggregations — stage N
    * is a groupBy over rows filtered by the user's stage-N-1 time,
    * joined back on user_id. Three shuffles all on the SAME key
    * (user_id), so at scale they co-partition (no re-exchange after the
    * first under identical partitioning); the per-user state is 3
    * timestamps, never a buffered event list — a per-key
    * collect+sort funnel would O(heaviest-user) memory. */
  val funnel: Q = Q(
    "events_funnel",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val s1 = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts_us")).as("t_view_us"))
      val s2 = e.join(s1, "user_id")
        .filter(col("event_type") === "click" && col("ts_us") > col("t_view_us"))
        .groupBy("user_id").agg(min(col("ts_us")).as("t_click_us"))
      val s3 = e.join(s2, "user_id")
        .filter(col("event_type") === "purchase" && col("ts_us") > col("t_click_us"))
        .groupBy("user_id").agg(min(col("ts_us")).as("t_purchase_us"))
      s1.join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view_us"), col("t_click_us"),
          col("t_purchase_us"),
          col("t_purchase_us").isNotNull.as("converted"))
        .orderBy("user_id")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (
        |  SELECT user_id, min(ts_us) AS t_view_us
        |  FROM e WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts_us) AS t_click_us
        |  FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts_us > s1.t_view_us
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts_us) AS t_purchase_us
        |  FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t_click_us
        |  GROUP BY e.user_id)
        |SELECT s1.user_id, s1.t_view_us, s2.t_click_us, s3.t_purchase_us,
        |       s3.t_purchase_us IS NOT NULL AS converted
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin))

  /** CDC merge with tombstone semantics: fold a change log into the
    * live table. Each user's LATEST event wins ((ts, event_id) argmax,
    * same partial-aggregating `max(struct(...))` as [[latestState]] —
    * map-side combine means the shuffle carries one candidate per key
    * per partition, never the log); a key whose latest op is a DELETE
    * (the 'error' type stands in for the tombstone) leaves the table
    * entirely. This is the Delta/Iceberg MERGE INTO shape: upserts +
    * deletes in one pass, no per-key window over the full log. The
    * oracle is the rank-window formulation plus the tombstone filter —
    * crossing formulations, not just engines. */
  val cdcMerge: Q = Q(
    "cdc_merge_log",
    (s, dir) => Sources.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"),
        col("value"))).as("m"),
        count(lit(1)).as("n_ops"))
      .filter(col("m.event_type") =!= MarkerType)
      .select(col("user_id"), col("m.ts_us").as("ts_us"),
        col("m.event_id").as("event_id"),
        col("m.event_type").as("last_op"), col("m.value").as("value"),
        col("n_ops"))
      .orderBy("user_id"),
    Some(
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
         |  FROM events),
         |r AS (
         |  SELECT user_id, ts_us, event_id, event_type, value,
         |         ROW_NUMBER() OVER (PARTITION BY user_id
         |                            ORDER BY ts_us DESC, event_id DESC) AS rn,
         |         COUNT(*) OVER (PARTITION BY user_id) AS n_ops
         |  FROM e)
         |SELECT user_id, ts_us, event_id, event_type AS last_op, value, n_ops
         |FROM r WHERE rn = 1 AND event_type <> '$MarkerType'
         |ORDER BY user_id""".stripMargin))

  /** The SAME as-of contract as [[asofLastError]], executed by the
    * native whole-operator plan (graft.plans.AsOfJoin → Strategy →
    * sorted-merge exec — the top rung of the extension ladder): one
    * exchange per side, per-partition single-pass merge with one carried
    * marker row, no union inflation and no window buffer. Shares the
    * window formulation's oracle verbatim — three formulations (window,
    * stream GroupState, native plan), one contract. */
  val asofNative: Q = Q(
    "events_asof_native",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
      val facts = e.filter(col("event_type") =!= MarkerType)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val marks = e.filter(col("event_type") === MarkerType)
        .select(col("user_id").as("m_user"), col("ts_us").as("m_ts"),
          col("event_id").as("m_id"), col("value").as("m_value"))
        .withColumnRenamed("m_user", "user_id")
        .withColumnRenamed("m_ts", "ts_us")
        .withColumnRenamed("m_id", "event_id")
      // AsOf.join resolves key/time/tie by NAME on each side, so the
      // marker side temporarily shares the fact side's column names;
      // the projection below restores the output contract.
      val j = graft.plans.AsOf.join(facts,
        marks.select(col("user_id"), col("ts_us"), col("event_id"),
          col("m_value")),
        key = "user_id", time = "ts_us", tie = "event_id")
      val cols = j.toDF(
        "event_id", "user_id", "ts_us",
        "m_user", "m_ts_us", "m_event_id", "m_value")
      cols.select(col("event_id"), col("user_id"), col("ts_us"),
          col("m_ts_us").as("last_err_us"),
          col("m_value").as("last_err_value"),
          (col("ts_us") - col("m_ts_us")).as("gap_us"))
        .orderBy("event_id")
    },
    asofLastError.oracle)

  /** Forward direction of the native as-of plan — same contract as the
    * window-formulated [[asofNextError]], same shared oracle. */
  val asofForwardNative: Q = Q(
    "events_asof_forward_native",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
      val facts = e.filter(col("event_type") =!= MarkerType)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val marks = e.filter(col("event_type") === MarkerType)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      val j = graft.plans.AsOf.join(facts, marks,
        key = "user_id", time = "ts_us", tie = "event_id", forward = true)
      j.toDF("event_id", "user_id", "ts_us",
          "m_user", "m_ts_us", "m_event_id", "m_value")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("m_ts_us").as("next_err_us"),
          col("m_value").as("next_err_value"),
          (col("m_ts_us") - col("ts_us")).as("gap_us"))
        .orderBy("event_id")
    },
    asofNextError.oracle)

  /** Last-touch attribution: each purchase credits the user's most
    * recent preceding NON-purchase event (its type is the "channel");
    * purchases with no preceding touch credit 'direct'. Built ON the
    * native as-of plan — the second real consumer of [[graft.plans
    * .AsOf]], this time purchases⋈touches instead of facts⋈errors —
    * then one aggregate over the (tiny) channel domain. A purchase AT
    * the exact timestamp of a touch credits that touch (at-or-before,
    * the operator's pinned rule). Money sums ride DECIMAL. */
  val attribution: Q = Q(
    "events_attribution_last_touch",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val touches = e.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
      graft.plans.AsOf.join(purchases, touches,
          key = "user_id", time = "ts_us", tie = "event_id")
        .toDF("event_id", "user_id", "ts_us", "value",
          "t_user", "t_ts_us", "t_event_id", "t_type")
        .select(coalesce(col("t_type"), lit("direct")).as("channel"),
          col("value"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy("channel")
    },
    Some(
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |u AS (
        |  SELECT event_id, user_id, ts_us, 0 AS side,
        |         event_type AS t_type, CAST(NULL AS DOUBLE) AS p_value
        |  FROM e WHERE event_type <> 'purchase'
        |  UNION ALL
        |  SELECT event_id, user_id, ts_us, 1,
        |         CAST(NULL AS VARCHAR), value
        |  FROM e WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT side, p_value,
        |         last_value(t_type IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts_us, side, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS channel
        |  FROM u)
        |SELECT COALESCE(channel, 'direct') AS channel,
        |       count(*) AS n_purchases,
        |       CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM w WHERE side = 1
        |GROUP BY 1
        |ORDER BY channel""".stripMargin))

  /** Golden-record build with FIELD-LEVEL survivorship — the MDM/entity
    * -consolidation shape: different event types carry different
    * "fields" of a user's profile, and the golden record takes, PER
    * FIELD, the most recent value with a deterministic tie-break —
    * not the whole most-recent row ([[cdcMerge]] is row-level
    * last-write-wins; a real consolidation is per-attribute).
    *
    * One groupBy pass: each field is a conditional partial-aggregating
    * argmax — `max(when(type = f, struct(ts, id, value)))` — so the
    * shuffle carries one ≤3-struct row per user, never the event log,
    * and users missing a field surface it as NULL (counted in
    * n_fields_present). No window, no per-field join, no event
    * buffering: the same O(1)-state discipline as the funnel. */
  val goldenRecord: Q = Q(
    "events_golden_record",
    (s, dir) => {
      def lastOf(t: String) =
        max(when(col("event_type") === t,
          struct(col("ts_us"), col("event_id"), col("value"))))
      Sources.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(lastOf("view").as("v"), lastOf("click").as("c"),
          lastOf("purchase").as("p"))
        .select(col("user_id"),
          col("v.value").as("view_value"), col("v.ts_us").as("view_ts_us"),
          col("c.value").as("click_value"), col("c.ts_us").as("click_ts_us"),
          col("p.value").as("purchase_value"), col("p.ts_us").as("purchase_ts_us"),
          (when(col("v").isNotNull, 1).otherwise(0) +
            when(col("c").isNotNull, 1).otherwise(0) +
            when(col("p").isNotNull, 1).otherwise(0)).as("n_fields_present"))
        .orderBy("user_id")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_type, ts_us, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e WHERE event_type IN ('view', 'click', 'purchase')),
        |u AS (SELECT DISTINCT user_id FROM e),
        |v AS (SELECT user_id, value, ts_us FROM r WHERE event_type = 'view' AND rn = 1),
        |c AS (SELECT user_id, value, ts_us FROM r WHERE event_type = 'click' AND rn = 1),
        |p AS (SELECT user_id, value, ts_us FROM r WHERE event_type = 'purchase' AND rn = 1)
        |SELECT u.user_id,
        |       v.value AS view_value, v.ts_us AS view_ts_us,
        |       c.value AS click_value, c.ts_us AS click_ts_us,
        |       p.value AS purchase_value, p.ts_us AS purchase_ts_us,
        |       (CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END
        |        + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
        |        + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS n_fields_present
        |FROM u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin))

  /** Incremental materialized-view maintenance: fold a new batch into a
    * stored monthly aggregate WITHOUT rescanning history — the
    * partial-merge property (SUM/COUNT decompose over unions) that makes
    * warehouse MVs incrementally maintainable. The base branch stands in
    * for reading the stored MV state (group-cardinality rows; at 100 TB
    * that's the table you persist, never the fact); the delta branch
    * pre-aggregates ONLY the batch window, and the merge is a union of
    * the two partial tables re-grouped — its shuffle carries one row per
    * (source, month), independent of fact size. `changed` marks rows the
    * batch touched (max over a 0/1 source tag), the refresh log a
    * downstream cache invalidation consumes. */
  val mvIncremental: Q = Q(
    "mv_incremental_month",
    (s, dir) => {
      val ord = Sources.table(s, dir, "orders")
      def monthly(df: org.apache.spark.sql.DataFrame, tag: Int) = df
        .groupBy(year(col("o_orderdate")).as("anio"),
          month(col("o_orderdate")).as("mes"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_dec"),
          count(lit(1)).as("n"))
        .withColumn("src", lit(tag))
      val base = monthly(
        ord.filter(col("o_orderdate").cast("date") < lit("2000-01-01")), 0)
      val delta = monthly(
        ord.filter(col("o_orderdate").cast("date") >= lit("2000-01-01") &&
          col("o_orderdate").cast("date") < lit("2000-07-01")), 1)
      base.unionByName(delta)
        .groupBy(col("anio"), col("mes"))
        .agg(sum(col("rev_dec")).cast("double").as("revenue"),
          sum(col("n")).as("n_orders"),
          (max(col("src")) === 1).as("changed"))
        .orderBy("anio", "mes")
    },
    Some(
      """WITH base AS (
        |  SELECT year(o_orderdate) AS anio, month(o_orderdate) AS mes,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
        |         count(*) AS n, 0 AS src
        |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2000-01-01'
        |  GROUP BY 1, 2),
        |delta AS (
        |  SELECT year(o_orderdate) AS anio, month(o_orderdate) AS mes,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
        |         count(*) AS n, 1 AS src
        |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
        |                AND CAST(o_orderdate AS DATE) <  DATE '2000-07-01'
        |  GROUP BY 1, 2)
        |SELECT anio, mes,
        |       CAST(SUM(rev_dec) AS DOUBLE) AS revenue,
        |       CAST(SUM(n) AS BIGINT) AS n_orders,
        |       MAX(src) = 1 AS changed
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        |GROUP BY anio, mes
        |ORDER BY anio, mes""".stripMargin))

  /** Interval×interval OVERLAP join — the temporal-join shape
    * [[rangeBurst]] (point-in-window) can't express: both sides are
    * ranges. Left side: per-user activity sessions (30-min gap rule —
    * the sessionization window). Right side: data-derived "incident"
    * windows — hours whose event count exceeds 1.5× the hourly mean
    * (compared as cnt·2·n_hours > total·3, exact integer arithmetic),
    * merged into maximal runs by the gaps-and-islands trick (h −
    * row_number; that global window ranks qualifying HOURS — calendar-
    * bounded, never event-bounded). The join bucketizes BOTH interval
    * sets into the hour grid and equi-joins on the bucket — replication
    * = interval_length/bucket + 1, no nested-loop join — then the exact
    * overlap predicate filters bucket-local candidates and a distinct
    * collapses pairs that met in several buckets. The ORACLE runs the
    * unblocked theta join (crossing formulations, not just engines).
    * All bounds are epoch-micros BIGINTs; `div` keeps the bucketing in
    * integer arithmetic on both engines. */
  val intervalOverlap: Q = Q(
    "events_interval_overlap",
    (s, dir) => {
      val HourUs = 3600000000L
      val GapUs = 1800000000L
      val e = Sources.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val sess = e
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > GapUs, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(w))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
      val hourly = e.groupBy(expr(s"us div $HourUs").as("h"))
        .agg(count(lit(1)).as("cnt"))
        .persist()
      val tot = hourly.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_hours"))
      val inc = hourly.crossJoin(broadcast(tot))
        .filter(col("cnt") * 2 * col("n_hours") > col("total") * 3)
        .select(col("h"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(pmod(col("h"), lit(1))).orderBy(col("h"))))
        .groupBy((col("h") - col("rn")).as("isl"))
        .agg((min(col("h")) * HourUs).as("i_start"),
          ((max(col("h")) + 1) * HourUs - 1).as("i_end"))
        .drop("isl")
      val sessB = sess.select(col("user_id"), col("s_start"), col("s_end"),
        explode(sequence(expr(s"s_start div $HourUs"),
          expr(s"s_end div $HourUs"))).as("hb"))
      val incB = inc.select(col("i_start"), col("i_end"),
        explode(sequence(expr(s"i_start div $HourUs"),
          expr(s"i_end div $HourUs"))).as("hb"))
      sessB.join(incB, Seq("hb"))
        .filter(col("s_start") <= col("i_end") &&
          col("i_start") <= col("s_end"))
        .select(col("user_id"), col("s_start"), col("s_end"),
          col("i_start"), col("i_end"))
        .distinct()
        .withColumn("overlap_us",
          least(col("s_end"), col("i_end")) -
            greatest(col("s_start"), col("i_start")))
        .orderBy("user_id", "s_start", "i_start")
    },
    Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |s0 AS (SELECT user_id, us,
        |              lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |       FROM e),
        |s1 AS (SELECT user_id, us,
        |              CASE WHEN prev IS NULL OR us - prev > 1800000000
        |                   THEN 1 ELSE 0 END AS new_s
        |       FROM s0),
        |s2 AS (SELECT user_id, us,
        |              SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |                               ROWS UNBOUNDED PRECEDING) AS sid
        |       FROM s1),
        |sess AS (SELECT user_id, sid, MIN(us) AS s_start, MAX(us) AS s_end
        |         FROM s2 GROUP BY 1, 2),
        |hourly AS (SELECT us // 3600000000 AS h, count(*) AS cnt
        |           FROM e GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS n_hours FROM hourly),
        |hot AS (SELECT h FROM hourly, tot WHERE cnt * 2 * n_hours > total * 3),
        |inc AS (
        |  SELECT MIN(h) * 3600000000 AS i_start,
        |         (MAX(h) + 1) * 3600000000 - 1 AS i_end
        |  FROM (SELECT h, h - row_number() OVER (ORDER BY h) AS isl FROM hot)
        |  GROUP BY isl)
        |SELECT user_id, s_start, s_end, i_start, i_end,
        |       least(s_end, i_end) - greatest(s_start, i_start) AS overlap_us
        |FROM sess JOIN inc ON s_start <= i_end AND i_start <= s_end
        |ORDER BY user_id, s_start, i_start""".stripMargin))

  /** Incremental maintenance of a JOIN view — the companion to
    * [[mvIncremental]]'s aggregate case, for the harder shape: a
    * materialized `orders ⋈ lineitem` fact join kept current as new
    * rows arrive on BOTH sides. With O = pre-cutoff orders, ΔO = the
    * batch's orders (and L / ΔL likewise by ship date), the view delta
    * decomposes as ΔV = (ΔO ⋈ L_all) ∪ (O ⋈ ΔL) — the classical
    * delta-rule (the ΔO⋈ΔL cross term belongs to the first branch, so
    * the union is disjoint and needs no dedup). The query emits the
    * delta rows themselves, tagged by branch — the refresh a warehouse
    * MERGEs into the stored view.
    *
    * Why it scales: maintenance cost is delta-proportional on one side
    * of each join — both date predicates push into the parquet scans
    * (order-date on ΔO, ship-date on ΔL), so neither branch rescans
    * history on its delta side, and the full-side join keys are
    * FK-clustered (an order's lines share its key) so AQE broadcasts
    * the batch side when it is small. Recomputing V from scratch
    * touches |O|+|L|; the delta touches |ΔO|+|ΔL|+ the matched slices.
    * `DeltaViewSpec`-style equivalence (old view ∪ delta = full
    * recompute) is pinned in QueryPropertiesSpec. */
  val mvJoinDelta: Q = Q(
    "mv_join_delta",
    (s, dir) => {
      val cutoff = "2000-01-01"
      val ord = Sources.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Sources.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("l_extendedprice"))
      val oOld = ord.filter(col("o_orderdate").cast("date") < lit(cutoff))
      val oNew = ord.filter(col("o_orderdate").cast("date") >= lit(cutoff))
      val lNew = li.filter(col("l_shipdate").cast("date") >= lit(cutoff))
      def proj(o: DataFrame, l: DataFrame, branch: String) =
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey").as("orderkey"), col("l_linenumber"),
            col("o_custkey").as("custkey"),
            date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
            col("l_extendedprice").as("price"), lit(branch).as("branch"))
      proj(oNew, li, "new_order")
        .unionAll(proj(oOld, lNew, "late_line"))
        .orderBy("orderkey", "l_linenumber", "branch", "price")
    },
    Some(
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders),
        |l AS (SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice FROM lineitem),
        |d1 AS (
        |  SELECT o.o_orderkey AS orderkey, l.l_linenumber,
        |         o.o_custkey AS custkey,
        |         strftime(o.o_orderdate, '%Y-%m') AS order_month,
        |         l.l_extendedprice AS price, 'new_order' AS branch
        |  FROM o JOIN l ON o.o_orderkey = l.l_orderkey
        |  WHERE CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01'),
        |d2 AS (
        |  SELECT o.o_orderkey AS orderkey, l.l_linenumber,
        |         o.o_custkey AS custkey,
        |         strftime(o.o_orderdate, '%Y-%m') AS order_month,
        |         l.l_extendedprice AS price, 'late_line' AS branch
        |  FROM o JOIN l ON o.o_orderkey = l.l_orderkey
        |  WHERE CAST(o.o_orderdate AS DATE) < DATE '2000-01-01'
        |    AND CAST(l.l_shipdate AS DATE) >= DATE '2000-01-01')
        |SELECT * FROM d1
        |UNION ALL SELECT * FROM d2
        |ORDER BY orderkey, l_linenumber, branch, price""".stripMargin))

  /** Nearest-marker as-of join (`pd.merge_asof(..,
    * direction='nearest')`): every non-error event annotated with
    * whichever error marker is CLOSER in time — backward or forward —
    * with ties preferring backward (the at-or-before marker is the one
    * already known at event time). Both carries ride ONE shuffle: the
    * union frame sorts once per (user, ts, side, event_id) and the two
    * window passes (trailing last / leading first, both ignoreNulls)
    * share that distribution — no second exchange, the same one-shuffle
    * economics as [[asofLastError]]/[[asofNextError]] but resolving
    * both directions. Same-timestamp markers count as backward (side
    * orders them before the fact), mirrored exactly in the oracle's
    * frame bounds. The pick is pure integer projection on the two
    * carried gaps. */
  val asofNearest: Q = Q(
    "events_asof_nearest",
    (s, dir) => {
      val e = Sources.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          col("value"))
      val marks = e.filter(col("event_type") === MarkerType)
        .select(col("event_id"), col("user_id"), col("ts"), lit(0).as("side"),
          unix_micros(col("ts")).as("m_ts_us"))
      val facts = e.filter(col("event_type") =!= MarkerType)
        .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("side"),
          lit(null).cast("long").as("m_ts_us"))
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"), col("event_id"))
      val back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val ts = unix_micros(col("ts"))
      val bGap = ts - col("last_us")
      val fGap = col("next_us") - ts
      val takeBack = col("next_us").isNull ||
        (col("last_us").isNotNull && bGap <= fGap)
      marks.unionAll(facts)
        .withColumn("last_us", last(col("m_ts_us"), ignoreNulls = true).over(back))
        .withColumn("next_us", first(col("m_ts_us"), ignoreNulls = true).over(fwd))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"), ts.as("ts_us"),
          when(takeBack, col("last_us")).otherwise(col("next_us")).as("near_err_us"),
          when(col("last_us").isNull && col("next_us").isNull, lit(null).cast("string"))
            .otherwise(when(takeBack, lit("B")).otherwise(lit("F"))).as("direction"),
          when(takeBack, bGap).otherwise(fGap).as("gap_us"))
        .orderBy("event_id")
    },
    Some(
      s"""WITH e AS (SELECT event_id, user_id, ts, event_type FROM events),
         |u AS (
         |  SELECT event_id, user_id, ts, 0 AS side, epoch_us(ts) AS m_ts_us
         |  FROM e WHERE event_type = '$MarkerType'
         |  UNION ALL
         |  SELECT event_id, user_id, ts, 1, CAST(NULL AS BIGINT)
         |  FROM e WHERE event_type <> '$MarkerType'),
         |w AS (
         |  SELECT event_id, user_id, ts, side,
         |         last_value(m_ts_us IGNORE NULLS) OVER (
         |           PARTITION BY user_id ORDER BY ts, side, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_us,
         |         first_value(m_ts_us IGNORE NULLS) OVER (
         |           PARTITION BY user_id ORDER BY ts, side, event_id
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us
         |  FROM u)
         |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |       CASE WHEN next_us IS NULL OR (last_us IS NOT NULL
         |                  AND epoch_us(ts) - last_us <= next_us - epoch_us(ts))
         |            THEN last_us ELSE next_us END AS near_err_us,
         |       CASE WHEN last_us IS NULL AND next_us IS NULL THEN NULL
         |            WHEN next_us IS NULL OR (last_us IS NOT NULL
         |                  AND epoch_us(ts) - last_us <= next_us - epoch_us(ts))
         |            THEN 'B' ELSE 'F' END AS direction,
         |       CASE WHEN next_us IS NULL OR (last_us IS NOT NULL
         |                  AND epoch_us(ts) - last_us <= next_us - epoch_us(ts))
         |            THEN epoch_us(ts) - last_us ELSE next_us - epoch_us(ts) END AS gap_us
         |FROM w WHERE side = 1
         |ORDER BY event_id""".stripMargin))

  /** Allowed lateness and the planted event-time pull-back. */
  private val LateAllowedUs = 1L * 3600 * 1000000
  private val LatePullUs = 12L * 3600 * 1000000

  /** Late-arrival report — the batch audit of the streaming
    * watermark contract: replay the arrival stream (per-user arrival
    * order = (ts, event_id)) with every 13th event's EVENT TIME pulled
    * [[LatePullUs]] earlier (the planted-fixture pattern — out-of-order
    * delivery the fixture's in-order stream otherwise lacks), track the
    * running per-key watermark (max event time over PRIOR arrivals),
    * and flag arrivals whose event time lags it by more than
    * [[LateAllowedUs]] — exactly the rows `withWatermark` would drop.
    * Running this screen against yesterday's batch tells you what
    * loss rate the chosen delay would have caused; per-key watermarks
    * keep the window partitioned (one user_id shuffle — a GLOBAL
    * watermark would be a global window, the scale-killer this
    * formulation avoids). */
  val lateArrivals: Q = Q(
    "events_late_arrivals",
    (s, dir) => {
      val arrival = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Sources.events(s, dir)
        .select(col("user_id"), col("event_id"),
          (unix_micros(col("ts")) -
            when(col("event_id") % 13 === 0, LatePullUs).otherwise(0L))
            .as("event_time_us"),
          col("ts"))
        .withColumn("wm_us", max(col("event_time_us")).over(arrival))
        .filter(col("event_time_us") < col("wm_us") - LateAllowedUs)
        .select(col("user_id"), col("event_id"), col("event_time_us"),
          col("wm_us"), (col("wm_us") - col("event_time_us")).as("late_by_us"))
        .orderBy("user_id", "event_id")
    },
    Some(
      s"""WITH a AS (
         |  SELECT user_id, event_id, ts,
         |         epoch_us(ts) - CASE WHEN event_id % 13 = 0
         |                             THEN $LatePullUs ELSE 0 END AS event_time_us
         |  FROM events),
         |w AS (
         |  SELECT user_id, event_id, event_time_us,
         |         MAX(event_time_us) OVER (
         |           PARTITION BY user_id ORDER BY ts, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us
         |  FROM a)
         |SELECT user_id, event_id, event_time_us, wm_us,
         |       wm_us - event_time_us AS late_by_us
         |FROM w
         |WHERE event_time_us < wm_us - $LateAllowedUs
         |ORDER BY user_id, event_id""".stripMargin))

  def all: Seq[Q] = Seq(asofLastError, rangeBurst, latestState,
    asofNextError, scd2State, funnel, cdcMerge, asofNative,
    asofForwardNative, attribution, goldenRecord, mvIncremental,
    intervalOverlap, asofTolerance, mvJoinDelta, asofNearest, lateArrivals)
}
