package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table.
  *
  * The reference has no streams (SURVEY.md §2.9) — this is the
  * training-data-pipeline extension: the same transformations run in
  * batch (where the driver's oracle can check them) and over
  * `readStream` (exercised by the streaming spec). Transformations are
  * written once against DataFrame/Dataset and reused in both modes —
  * `withWatermark` is a no-op in batch, so the shared code is honest.
  */
object EventStream {

  /** Event schema with the raw nanos-long `ts` layout (the driver's
    * original parquet TIMESTAMP(NANOS), surfaced as nanos-long under the
    * legacy reader conf). Kept for callers that construct raw fixtures. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming file source over an events directory: the stream-shaped
    * twin of Sources.events (new parquet files are discovered per
    * micro-batch; maxFilesPerTrigger bounds batch size).
    *
    * readStream needs the schema up front, and the driver has shipped
    * `ts` as both nanos-long and TIMESTAMP(MICROS) (see Sources.events);
    * a batch probe of the directory (Sources.parquet, one footer read)
    * picks up whichever layout is present, then the shared normalizer
    * gives the stream the same session-TimestampType `ts` the batch
    * loader produces. An EMPTY directory — a normal state at stream
    * start — cannot be probed (Sources.parquet hands it to Spark's
    * schema inference, which throws), so the probe falls back to
    * [[rawSchema]] (the nanos-long layout), keeping the stream startable
    * before the first file lands.
    *
    * The layout is probed ONCE at stream creation and frozen for the
    * stream's lifetime: one directory = one physical `ts` layout. A
    * producer that switches layouts mid-stream must write to a new
    * directory (and start a new stream over it) — later files with a
    * different physical type under the frozen schema fail the read. */
  def fileStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    val layout =
      try graft.etl.Sources.parquet(spark, dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => rawSchema }
    graft.etl.Sources.normalizeTs(
      spark.readStream
        .schema(layout)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
  }

  /** Tumbling-window counts/sums per event type with a 2-hour watermark:
    * the canonical streaming aggregation. Works identically on a batch
    * frame (watermark no-op; window() is a regular grouping expression). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Watermarked ingest dedup: at-least-once delivery upstream becomes
    * effectively-once downstream — duplicates of an event id arriving
    * within the watermark window are dropped (streaming keeps seen-id
    * state until the watermark passes; in batch the same call is a plain
    * dropDuplicates). */
  def dedupedIngest(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  // -------------------------------------------------------- sessionization

  final case class SessionEvent(user_id: Long, ts_us: Long)
  final case class UserSession(
      user_id: Long, session_start_us: Long, session_end_us: Long, n_events: Long)

  /** Session gap: 6 hours, in microseconds. */
  val SessionGapUs: Long = 6L * 3600 * 1000000

  /** Batch sessionization: per-user gap-split via the window
    * formulation — lag marks session breaks, a running sum of breaks
    * numbers the sessions, one groupBy folds each session. One shuffle
    * on user_id, and — unlike a flatMapGroups that materializes a
    * user's full event history in memory — the window's sort spills,
    * so a single heavy user (10⁵⁺ events) cannot OOM an executor. The
    * per-group imperative shape survives only in [[sessionsStreaming]],
    * where incremental GroupState is the point. */
  def sessionsBatch(events: Dataset[SessionEvent]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    events.toDF()
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"))
      .as[UserSession]
  }

  /** Streaming range (interval) join — the stream face of
    * `events_range_burst`: Spark's native stream-stream join with a
    * time-range condition. Both sides are watermarked, and the range
    * predicate (`fact.ts ∈ (marker.ts, marker.ts + window]`) lets the
    * engine expire buffered state as the watermark passes — bounded
    * state without any hand-rolled bucketing (the batch twin buckets
    * because batch has no watermark to bound a raw range join with).
    * Emits the joined (marker, fact) pairs; the per-marker aggregation
    * runs downstream of the join exactly as in the batch query. */
  def rangeJoinStreaming(
      markers: DataFrame, facts: DataFrame, windowUs: Long): DataFrame = {
    // the upper bound MUST be the `ts <= ts + INTERVAL …` shape:
    // StreamingJoinHelper derives the state-eviction watermark only from
    // arithmetic it can parse (TimeAdd of an interval literal) — a
    // unix_micros() formulation is semantically identical but
    // unextractable, and marker-side state would grow forever
    require(windowUs % 1000000 == 0, s"windowUs must be whole seconds, got $windowUs")
    val m = markers
      .select(col("event_id").as("m_id"), col("user_id").as("m_user"),
        col("ts").as("m_ts"))
      .withWatermark("m_ts", "1 hour")
    val f = facts
      .select(col("user_id").as("f_user"), col("ts").as("f_ts"),
        col("value").as("f_value"))
      .withWatermark("f_ts", "1 hour")
    m.join(f, expr(
      s"""m_user = f_user AND
         |f_ts > m_ts AND
         |f_ts <= m_ts + INTERVAL ${windowUs / 1000000} SECOND""".stripMargin))
  }

  // ------------------------------------------------------- streaming as-of

  final case class TypedEvent(
      event_id: Long, user_id: Long, ts_us: Long, is_marker: Boolean,
      value: Double)
  final case class AsofEnriched(
      event_id: Long, user_id: Long, ts_us: Long,
      last_mark_us: Option[Long], last_mark_value: Option[Double])

  /** Streaming as-of enrichment — the stream-shaped twin of
    * `events_asof_lastmark` (TemporalJoinQueries): per-user GroupState
    * holds ONLY the latest marker seen (two longs + a double — bounded
    * state, unlike a buffering stream-stream join); every fact event
    * emits immediately, enriched with the carried marker. Same pinned
    * tie rules as the batch window formulation (marker-at-equal-ts
    * counts, highest event_id wins), same demo semantics as
    * [[sessionsStreaming]]: event-time order within a micro-batch (the
    * spec drives whole-batch and split-batch cases against the batch
    * twin). */
  def asofStreaming(events: Dataset[TypedEvent]): Dataset[AsofEnriched] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofEnriched, AsofEnriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[TypedEvent], state: GroupState[AsofEnriched]) =>
          // state rides in the output type to avoid a second encoder:
          // (event_id = the MARKER's id, ts_us/last_mark_* = the marker)
          var mark: Option[(Long, Long, Double)] = state.getOption
            .flatMap(s => s.last_mark_us.zip(s.last_mark_value))
            .map { case (ts, v) => (ts, state.get.event_id, v) }
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofEnriched]
          batch.toSeq
            .sortBy(e => (e.ts_us, if (e.is_marker) 0 else 1, e.event_id))
            .foreach { e =>
              if (e.is_marker) {
                // Cross-batch carry must be order-insensitive: a marker
                // arriving in a LATER micro-batch but with an OLDER
                // (event-time, id) must not displace the newer carried
                // marker — same (ts, id) total order as the batch twin's
                // tie rule (marker-at-equal-ts counts, highest id wins).
                if (mark.forall { case (mts, mid, _) =>
                      e.ts_us > mts || (e.ts_us == mts && e.event_id >= mid) })
                  mark = Some((e.ts_us, e.event_id, e.value))
              } else out += AsofEnriched(e.event_id, uid, e.ts_us,
                mark.map(_._1), mark.map(_._3))
            }
          mark.foreach { case (ts, id, v) =>
            state.update(AsofEnriched(id, uid, ts, Some(ts), Some(v)))
          }
          out.iterator
      }
  }

  // ------------------------------------------------------ streaming CDC

  final case class CdcOp(
      user_id: Long, ts_us: Long, event_id: Long, is_delete: Boolean,
      value: Double)
  final case class CdcState(
      user_id: Long, ts_us: Long, event_id: Long, is_delete: Boolean,
      value: Double, n_ops: Long)

  /** Streaming CDC merge — the stream twin of `cdc_merge_log`
    * (TemporalJoinQueries): per-key GroupState holds only the current
    * winner (latest (ts, id) op — bounded state, one record per live
    * key), updated as ops arrive in any micro-batch order; each batch
    * emits the key's refreshed state (Update-mode semantics — the
    * memory/console sink shows the live table converging). Tombstones
    * stay IN state (a late pre-tombstone op must still lose to the
    * tombstone — dropping it would resurrect deleted keys) and are
    * filtered at read time, exactly like the batch query's final
    * filter. Cross-batch carry is order-insensitive by the same
    * (ts, id) total order as the batch argmax. */
  def cdcStreaming(ops: Dataset[CdcOp]): Dataset[CdcState] = {
    import ops.sparkSession.implicits._
    ops
      .groupByKey(_.user_id)
      .mapGroupsWithState[CdcState, CdcState](GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[CdcOp], state: GroupState[CdcState]) =>
          var cur = state.getOption
          batch.foreach { op =>
            val wins = cur.forall(c =>
              op.ts_us > c.ts_us ||
                (op.ts_us == c.ts_us && op.event_id > c.event_id))
            val n = cur.map(_.n_ops).getOrElse(0L) + 1L
            cur =
              if (wins)
                Some(CdcState(uid, op.ts_us, op.event_id, op.is_delete,
                  op.value, n))
              else Some(cur.get.copy(n_ops = n))
          }
          val out = cur.get
          state.update(out)
          out
      }
  }

  final case class FieldEvent(
      user_id: Long, ts_us: Long, event_id: Long, event_type: String,
      value: Double)
  final case class GoldenField(ts_us: Long, event_id: Long, value: Double)
  final case class GoldenState(
      user_id: Long, view: Option[GoldenField], click: Option[GoldenField],
      purchase: Option[GoldenField])

  /** Streaming golden record — the stream twin of `events_golden_record`
    * (TemporalJoinQueries): per-user GroupState holds ONE (ts, id,
    * value) triple per profile field (bounded state — three records per
    * user, never the event history), each field updated independently
    * by the same (ts_us, event_id) total order the batch argmax pins,
    * so cross-batch and out-of-order delivery converge to the batch
    * result. Event types outside the field set pass through state
    * untouched. Each micro-batch emits the user's refreshed record
    * (Update-mode semantics). */
  def goldenStreaming(events: Dataset[FieldEvent]): Dataset[GoldenState] = {
    import events.sparkSession.implicits._
    def fold(cur: Option[GoldenField], e: FieldEvent): Option[GoldenField] =
      if (cur.forall(c => e.ts_us > c.ts_us ||
          (e.ts_us == c.ts_us && e.event_id > c.event_id)))
        Some(GoldenField(e.ts_us, e.event_id, e.value))
      else cur
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[GoldenState, GoldenState](GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[FieldEvent], state: GroupState[GoldenState]) =>
          var cur = state.getOption.getOrElse(GoldenState(uid, None, None, None))
          batch.foreach { e =>
            cur = e.event_type match {
              case "view" => cur.copy(view = fold(cur.view, e))
              case "click" => cur.copy(click = fold(cur.click, e))
              case "purchase" => cur.copy(purchase = fold(cur.purchase, e))
              case _ => cur
            }
          }
          state.update(cur)
          cur
      }
  }

  final case class FeatureState(
      user_id: Long, n_events: Long, n_events_7d: Long, value_7d_cents: Long,
      last_ts_us: Long, last_event_id: Long, last_event_type: String,
      types: List[String])

  /** Streaming per-user feature maintenance — the stream twin of
    * `events_user_features` (AnalysisQueries): GroupState carries the
    * SAME features the batch snapshot computes (total / trailing-window
    * counts against fixed cutoffs, exact-cents window value, distinct
    * type set, argmax-(ts, id) last event), updated incrementally as
    * events arrive in any micro-batch order. Every accumulator is
    * order-insensitive (counts, a bounded distinct set, an exact
    * integer cents sum, a total-order argmax), so cross-batch and
    * out-of-order delivery converge to the batch result — the online
    * feature-store path beside the nightly batch build. State is O(1)
    * per user (the type set is bounded by |event types|). Monetary
    * values ride as exact cents (HALF_UP at 2 decimals, the same
    * rounding the batch DECIMAL(18,2) cast applies), never as a double
    * running sum. */
  def featuresStreaming(events: Dataset[FieldEvent], snapUs: Long,
      w7Us: Long): Dataset[FeatureState] = {
    import events.sparkSession.implicits._
    def cents(v: Double): Long =
      (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
    events
      .filter(_.ts_us <= snapUs)
      .groupByKey(_.user_id)
      .mapGroupsWithState[FeatureState, FeatureState](GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[FieldEvent], state: GroupState[FeatureState]) =>
          var cur = state.getOption.getOrElse(
            FeatureState(uid, 0L, 0L, 0L, Long.MinValue, Long.MinValue, "", Nil))
          batch.foreach { e =>
            val in7 = e.ts_us >= w7Us
            val lastWins = e.ts_us > cur.last_ts_us ||
              (e.ts_us == cur.last_ts_us && e.event_id > cur.last_event_id)
            cur = cur.copy(
              n_events = cur.n_events + 1,
              n_events_7d = cur.n_events_7d + (if (in7) 1L else 0L),
              value_7d_cents = cur.value_7d_cents + (if (in7) cents(e.value) else 0L),
              last_ts_us = if (lastWins) e.ts_us else cur.last_ts_us,
              last_event_id = if (lastWins) e.event_id else cur.last_event_id,
              last_event_type = if (lastWins) e.event_type else cur.last_event_type,
              types =
                if (cur.types.contains(e.event_type)) cur.types
                else (e.event_type :: cur.types).sorted)
          }
          state.update(cur)
          cur
      }
  }

  /** Streaming sessionization with explicit state:
    * flatMapGroupsWithState keeps the open session per user and emits a
    * session whenever a new event lands beyond the gap. (Demo semantics:
    * event-time ordering within a micro-batch, no timeout flush of the
    * final open session — the spec drives and asserts this.) */
  def sessionsStreaming(events: Dataset[SessionEvent]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSession, UserSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[SessionEvent], state: GroupState[UserSession]) =>
          val ts = batch.map(_.ts_us).toSeq.sorted
          var open = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[UserSession]
          ts.foreach { t =>
            open match {
              case Some(s) if t - s.session_end_us > SessionGapUs =>
                closed += s
                open = Some(UserSession(uid, t, t, 1L))
              case Some(s) =>
                open = Some(s.copy(session_end_us = t, n_events = s.n_events + 1))
              case None =>
                open = Some(UserSession(uid, t, t, 1L))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }
}
