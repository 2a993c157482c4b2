package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.StructType
import graft.{GraftSession, Tables}

/** Streaming operator family (SURVEY.md §2.G) over the events table.
  *
  * Each operator has two forms with identical semantics:
  * - a BATCH form (registered in `SparkEntry.queries`, DuckDB oracle);
  * - a STREAMING form (`readStream`/watermark/window or
  *   flatMapGroupsWithState) exercised in the ScalaTest specs, where a
  *   parquet-backed stream is driven to completion and compared
  *   against the batch form.
  *
  * Scale: windowed aggregation state is bounded by (windows in
  * watermark horizon × event types); sessionization state by open
  * sessions per user, evicted on the gap timeout.
  */
object StreamingOps {

  /** Tumbling 15-minute windows × event_type: count, sum, distinct. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming twin of [[windowedAgg]] (append mode needs watermark). */
  def windowedAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** STREAMING fixed-width HISTOGRAM — q39's distribution aggregate
    * over the live stream (the monitoring shape: "what does the value
    * distribution look like per window right now"). The bucket is
    * per-row arithmetic, so state is (windows in the watermark
    * horizon × value buckets) — bounded by the value domain / width,
    * never by event count; in production append mode emits each
    * window's histogram once the watermark closes it (the memory-sink
    * harness drives it in complete mode so trailing windows are
    * captured for the batch-oracle comparison).
    */
  def histogramStream(events: DataFrame, width: Double = 50.0): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes").as("w"),
        floor(col("value") / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("bucket"), col("n_events"), col("sum_value"))

  /** SLIDING windows (30-minute length, 15-minute slide): each event
    * lands in length/slide = 2 overlapping windows. Batch form — the
    * streaming twin adds the watermark. State in the streaming form is
    * (windows in the watermark horizon × event types), same bound as
    * tumbling ×(length/slide).
    */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "30 minutes", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming twin of [[slidingWindowAgg]]. */
  def slidingWindowAggStream(events: DataFrame): DataFrame =
    slidingWindowAgg(events.withWatermark("ts", "1 hour"))

  /** Gap-based sessionization (30-minute inactivity gap), batch form:
    * classic lag → new-session flag → running session index.
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      // gap arithmetic via unix_micros: legal on TimestampType under
      // ANSI (a direct timestamp→double cast is not NTZ-safe; ts is
      // already normalized by Tables.normalizeTs, this keeps the
      // expression valid even if a caller passes a raw frame)
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_idx")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select("user_id", "sess_idx", "session_start", "n_events", "total_value")
  }

  /** Streaming-native sessionization: Spark's `session_window` gap
    * window. Same semantics as [[sessionize]] but without the session
    * index (windows are identified by their start time).
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total_value"))

  /** Streaming sessionization state for flatMapGroupsWithState. */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long, value: Double)
  case class SessOut(user_id: Long, session_start: String, n_events: Long, total_value: Double)
  case class EvT(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
  case class AttrOut(user_id: Long, conversion_id: Long,
    first_touch_id: Long, first_touch_type: String,
    last_touch_id: Long, last_touch_type: String)
  case class EwmaOut(event_type: String, day: String, n_events: Long,
    ewma: Double, resid: Double)
  case class HoltOut(event_type: String, day: String, n_events: Long,
    level: Double, trend: Double, forecast: Double, forecast_err: Double)
  case class Scd2Out(user_id: Long, event_id: Long, state: String,
    valid_from: String, valid_to: String)

  /** Microsecond-precision epoch of `t` (`Timestamp.getTime` drops µs):
    * the event-time sort key of the flatMapGroupsWithState operators. */
  private def micros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000

  /** `x` rounded HALF_UP to 6 places, as Spark's `round(x, 6)` does. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** A UTC formatter for `pattern`. `SimpleDateFormat` is not
    * thread-safe, so each operator call takes its own, and its state
    * closure ships a copy to each task. */
  private def utcFormat(pattern: String): java.text.SimpleDateFormat = {
    val f = new java.text.SimpleDateFormat(pattern)
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f
  }

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * KeyValueGroupedDataset stateful-processing path. Per user, events
    * are sessionized on the gap; in this bounded/batch-test form every
    * session (including the still-open one) is emitted at the end of
    * the batch. In a production unbounded stream the open session
    * would stay in `state` and be flushed on a ProcessingTime timeout.
    */
  def sessionizeFMGWS(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800): org.apache.spark.sql.Dataset[SessOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val fmt = utcFormat("yyyy-MM-dd HH:mm:ss")
    events.select(col("event_id"), col("ts"), col("user_id"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Long], SessOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[Array[Long]]) =>
          val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.event_id))
          val sessions = scala.collection.mutable.Buffer[SessOut]()
          var start = 0
          var i = 1
          def emit(lo: Int, hi: Int): Unit = {
            val slice = evs.slice(lo, hi)
            val total = slice.map(_.value).sum
            // round exactly as Spark's round(sum, 2) does (BigDecimal
            // .valueOf + HALF_UP) — the batch sessionize path and st4
            // use that, and math.round's binary floor(x*100+0.5)/100
            // diverges on decimal half boundaries like 2.675
            sessions += SessOut(uid, fmt.format(slice.head.ts), slice.size.toLong,
              java.math.BigDecimal.valueOf(total)
                .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
          }
          while (i < evs.size) {
            if ((micros(evs(i).ts) - micros(evs(i - 1).ts)) / 1.0e6 > gapSeconds) {
              emit(start, i); start = i
            }
            i += 1
          }
          if (evs.nonEmpty) emit(start, evs.size)
          sessions.iterator
      }
  }

  /** STREAMING first/last-touch attribution through the custom-state
    * API (q44's streaming twin, st17's shape): per user the state is
    * the pair of (first, latest) non-conversion touchpoints — two
    * fixed-size slots however long the journey, the state-store
    * bound a per-user event log can't give — and every 'purchase'
    * emits its credit row exactly once, with 'direct' when nothing
    * precedes it. Event order inside a group is (event-time,
    * event_id), the q44 window's sort key, so on the bounded source
    * the emission converges to the batch attribution and q44's
    * oracle SQL checks it directly.
    */
  def attributionFMGWS(spark: SparkSession,
      events: DataFrame): org.apache.spark.sql.Dataset[AttrOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("event_id"), col("ts"), col("user_id"), col("event_type")).as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, String, Long, String), AttrOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EvT], state: GroupState[(Long, String, Long, String)]) =>
          val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.event_id))
          var (ftId, ftTy, ltId, ltTy) =
            state.getOption.getOrElse((-1L, "direct", -1L, "direct"))
          val out = scala.collection.mutable.Buffer[AttrOut]()
          evs.foreach { e =>
            if (e.event_type == "purchase")
              out += AttrOut(uid, e.event_id, ftId, ftTy, ltId, ltTy)
            else {
              if (ftId == -1L) { ftId = e.event_id; ftTy = e.event_type }
              ltId = e.event_id; ltTy = e.event_type
            }
          }
          state.update((ftId, ftTy, ltId, ltTy))
          out.iterator
      }
  }

  /** STREAMING SCD2 (q45's merge as a continuous process): per user
    * the state is the single OPEN interval — a fixed-size slot
    * however long the history, never an event log — and each arriving
    * event closes it, emitting the CLOSED interval exactly once with
    * `valid_to` = the closer's event time. Closed intervals are
    * immutable the moment they are emitted (the SCD2 append-only
    * contract), so the emission stream IS the dimension's history
    * feed; the still-open interval stays in state (a production
    * pipeline reads "current state" from the store or flushes it on
    * timeout). Group order is (event-time, event_id) = q34's window
    * sort key, so on a bounded source the emitted set equals the
    * batch rebuild's closed rows and q34's oracle (filtered to
    * closed) checks it verbatim — including intervals whose open and
    * close arrive in DIFFERENT micro-batches (spec-proven via
    * MemoryStream).
    */
  def scd2FMGWS(spark: SparkSession,
      events: DataFrame): org.apache.spark.sql.Dataset[Scd2Out] =
    scd2FMGWSTyped(spark,
      events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type")))

  /** [[scd2FMGWS]] on an already-projected frame — the form a
    * MemoryStream-backed streaming Dataset can enter directly. */
  def scd2FMGWSTyped(spark: SparkSession,
      events: DataFrame): org.apache.spark.sql.Dataset[Scd2Out] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val fmt = utcFormat("yyyy-MM-dd HH:mm:ss")
    events.as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, String, String), Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EvT], state: GroupState[(Long, String, String)]) =>
          val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.event_id))
          val out = scala.collection.mutable.Buffer[Scd2Out]()
          var open: Option[(Long, String, String)] = state.getOption
          evs.foreach { e =>
            val at = fmt.format(e.ts)
            open.foreach { case (oid, oty, ofrom) =>
              out += Scd2Out(uid, oid, oty, ofrom, at)
            }
            open = Some((e.event_id, e.event_type, at))
          }
          open.foreach(state.update)
          out.iterator
      }
  }

  /** STREAMING EWMA CONTROL CHART (q54 as a continuous process): per
    * event type the state is FOUR SCALARS — the open day, its running
    * count, the EWMA, and a seeded flag — never a day list or event
    * log. A day's chart point (count, EWMA, one-step-ahead residual)
    * is emitted EXACTLY ONCE, when a later-day event proves the day
    * closed — the st21 contract moved from intervals to control
    * charts. α = 0.25 (dyadic) and HALF_UP rounding at emit keep the
    * recurrence bit-identical to q54's batch fold, so on a bounded
    * source the emitted set equals the batch chart restricted to
    * CLOSED days (every day but each type's last) and q54's oracle —
    * minus the σ band, which needs the full horizon a stream hasn't
    * seen — checks it verbatim, including days whose events straddle
    * micro-batches (spec-proven via MemoryStream).
    *
    * LATENESS CONTRACT — ZERO allowed lateness across batches: a day
    * closes the moment a later-day event for its type arrives, and
    * any event for an already-closed day is DROPPED (spec-pinned).
    * That is stricter than a watermarked window, which holds a window
    * open for its configured delay — here a seconds-late arrival that
    * crosses both a day and a micro-batch boundary undercounts its
    * day. Within one batch the per-key sort makes arrival order
    * irrelevant, so a bounded source in a single batch is exact. A
    * production deployment feeds this from a WATERMARKED day-grain
    * pre-aggregation (st12's shape) so ordering is guaranteed before
    * the recurrence sees the counts; the state machine is
    * deliberately order-strict rather than pretending to a tolerance
    * four scalars cannot honor without buffering.
    */
  def ewmaFMGWS(spark: SparkSession,
      events: DataFrame): org.apache.spark.sql.Dataset[EwmaOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dayFmt = utcFormat("yyyy-MM-dd")
    events.select(col("event_id"), col("ts"), lit(0L).as("user_id"),
        col("event_type")).as[EvT]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long, Double, Boolean), EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ty: String, it: Iterator[EvT], state: GroupState[(Long, Long, Double, Boolean)]) =>
          val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.event_id))
          var (curDay, cnt, ew, seeded) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0.0, false))
          val out = scala.collection.mutable.Buffer[EwmaOut]()
          def closeDay(): Unit = {
            val c = cnt.toDouble
            val resid = if (seeded) c - ew else 0.0
            ew = if (seeded) 0.25 * c + 0.75 * ew else c
            seeded = true
            out += EwmaOut(ty, dayFmt.format(new java.util.Date(curDay * 86400000L)),
              cnt, round6(ew), round6(resid))
          }
          evs.foreach { e =>
            val d = Math.floorDiv(micros(e.ts), 86400000000L)
            if (curDay == Long.MinValue) { curDay = d; cnt = 1L }
            else if (d == curDay) cnt += 1L
            else if (d > curDay) { closeDay(); curDay = d; cnt = 1L }
            // d < curDay: below-watermark straggler — dropped
          }
          state.update((curDay, cnt, ew, seeded))
          out.iterator
      }
  }

  case class QuotaOut(event_type: String, event_id: Long, admit_rank: Long)

  /** STREAMING QUOTA ADMISSION (st32): admit at most `cap` events per
    * type, first-come by (ts, event_id) — the per-source admission
    * control an ingest gateway applies ("no more than N from this
    * producer", p14's contract as a continuous process). State per
    * type is ONE counter; each admitted event emits exactly once with
    * its admission rank; everything past the quota is dropped at the
    * gate, paying no downstream cost. Batch-deterministic: events
    * sort (ts, id) within the group, so the batch run equals the
    * oracle's global row_number.
    */
  def quotaAdmitFMGWS(spark: SparkSession, events: DataFrame,
      cap: Long = 150L): org.apache.spark.sql.Dataset[QuotaOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("event_id"), col("ts"), lit(0L).as("user_id"),
        col("event_type")).as[EvT]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, QuotaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ty: String, it: Iterator[EvT], state: GroupState[Long]) =>
          val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.event_id))
          var n = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.Buffer[QuotaOut]()
          evs.foreach { e =>
            if (n < cap) { n += 1; out += QuotaOut(ty, e.event_id, n) }
          }
          state.update(n)
          out.iterator
      }
  }

  /** STREAMING HOLT FORECAST (q61 as a continuous process): st25's
    * day-close state machine carrying the level+trend DOUBLE
    * recurrence — per event type the state is FIVE scalars (open day,
    * count, level, trend, phase) and a day's point (level, trend,
    * the forecast made for it, forecast error) emits exactly once
    * when a later-day event closes it. Seeding mirrors q61: the first
    * closed day only seeds the level (q61 emits nothing for day 1),
    * the second seeds the trend from the first level change. Same
    * ZERO-lateness contract as [[ewmaFMGWS]] (see its scaladoc); the
    * oracle is q61's recursive CTE restricted to closed days.
    */
  def holtFMGWS(spark: SparkSession,
      events: DataFrame): org.apache.spark.sql.Dataset[HoltOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dayFmt = utcFormat("yyyy-MM-dd")
    events.select(col("event_id"), col("ts"), lit(0L).as("user_id"),
        col("event_type")).as[EvT]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long, Double, Double, Int), HoltOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (ty: String, it: Iterator[EvT],
            state: GroupState[(Long, Long, Double, Double, Int)]) =>
          val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.event_id))
          // phase: 0 = nothing closed, 1 = level seeded, 2 = trend live
          var (curDay, cnt, lv, tr, phase) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0.0, 0.0, 0))
          val out = scala.collection.mutable.Buffer[HoltOut]()
          def closeDay(): Unit = {
            val c = cnt.toDouble
            if (phase == 0) { lv = c; tr = 0.0; phase = 1 }
            else {
              val fc = lv + tr
              val newLv =
                if (phase == 1) 0.5 * c + 0.5 * lv
                else 0.5 * c + 0.5 * (lv + tr)
              tr =
                if (phase == 1) newLv - lv
                else 0.25 * (newLv - lv) + 0.75 * tr
              lv = newLv
              phase = 2
              out += HoltOut(ty,
                dayFmt.format(new java.util.Date(curDay * 86400000L)),
                cnt, round6(lv), round6(tr), round6(fc), round6(c - fc))
            }
          }
          evs.foreach { e =>
            val d = Math.floorDiv(micros(e.ts), 86400000000L)
            if (curDay == Long.MinValue) { curDay = d; cnt = 1L }
            else if (d == curDay) cnt += 1L
            else if (d > curDay) { closeDay(); curDay = d; cnt = 1L }
            // d < curDay: below the zero-lateness contract — dropped
          }
          state.update((curDay, cnt, lv, tr, phase))
          out.iterator
      }
  }

  /** st31's streaming stage: per (event_type, watermarked 1-day
    * window), the six Pearson sufficient statistics between the
    * micro-quantized event value (exact 1e6 grid — per-row squares
    * stay inside Long for any |value| < ~3000) and its second-of-day.
    * DECIMAL(38,0) sums: order-free in the streaming partial
    * aggregates and overflow-proof at any per-cell event count. The
    * state row per cell is six numbers, never the events.
    */
  def corrMomentsStream(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour")
      .select(col("event_type"), col("ts"),
        floor(col("value") * 1000000.0 + 0.5).cast("long").as("x"),
        (unix_timestamp(col("ts")) -
          unix_timestamp(date_trunc("day", col("ts")))).as("y"))
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      .select(col("event_type"), col("w.start").as("d"), col("n"),
        col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))

  /** st33's stateful stage: per (watermark-finalized day, leading
    * digit) counts of positive event values — q69's Benford screen
    * running INSIDE the state store. The digit is exact integer
    * string arithmetic on the value's micro-units (scaling by 10⁶
    * never moves the leading significant digit); state per key is one
    * counter. Late events within 1 h still count; the append sink
    * emits a day only when the watermark closes it.
    */
  def benfordDigitsStream(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour")
      // filter on the QUANTIZED micro value, not the raw double: a
      // value in (0, 5e-7) passes value > 0 but rounds to micro 0,
      // whose "leading digit" would be 0 and poison log10(1 + 1/d)
      .filter(floor(col("value") * 1000000.0 + 0.5).cast("long") > 0L)
      .select(col("ts"),
        substring(floor(col("value") * 1000000.0 + 0.5).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("digit"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("d"), col("digit"), col("n_events"))

  /** st33's finalization over the closed (day, digit) rows: shares vs
    * the log₁₀(1+1/d) Benford expectation — q69's readout shape; the
    * share window runs over the day×9-row closed frame, never events.
    */
  def benfordFinalize(rows: DataFrame): DataFrame =
    rows
      .withColumn("share", col("n_events").cast("double") /
        sum("n_events").over(
          org.apache.spark.sql.expressions.Window.partitionBy("d"))
          .cast("double"))
      .withColumn("benford",
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("digit"),
        col("n_events"), round(col("share"), 6).as("share"),
        round(col("benford"), 6).as("benford"),
        round(col("share") - col("benford"), 6).as("delta"))

  /** st31's closed-form finalization over the finalized moment rows —
    * q66's exact double parenthesization; zero-variance cells → null.
    */
  def corrFinalize(finalized: DataFrame): DataFrame = {
    val nd = col("n").cast("double")
    val vx = nd * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    finalized.select(col("event_type"),
      date_format(col("d"), "yyyy-MM-dd").as("day"),
      col("n").as("n_events"),
      when(vx * vy > 0.0,
        round((nd * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double"))
          / sqrt(vx * vy), 6)).as("corr_value_tod"))
  }
}

object StreamingOpsSinks {

  /** Durable streaming sink: append the streaming frame to a parquet
    * directory with a checkpoint — Spark's file sink commits each
    * micro-batch's files to a write-ahead manifest, so restarts resume
    * from the checkpoint and readers never see partial batches
    * (end-to-end exactly-once for file outputs). Returns once the
    * currently-available input is fully processed.
    */
  def streamToParquet(df: org.apache.spark.sql.DataFrame, outDir: String,
      checkpointDir: String): Unit =
    StreamingQueries.run(parquetSink(df, outDir), Some(checkpointDir))

  /** `df` appended to the parquet directory `outDir` by Spark's file
    * sink. */
  private[streaming] def parquetSink(df: DataFrame, outDir: String)
      : DataStreamWriter[Row] =
    df.writeStream.outputMode("append").format("parquet").option("path", outDir)

  /** The durable sinks' one writer: run the stream of `streamDir`
    * ([[StreamingQueries.drive]], foreachBatch-fold partitions) and
    * land each micro-batch's `partial` as exactly its own `batch_id=N`
    * partition of `outDir` (dynamic partition overwrite). A partial
    * deterministic in its batch makes the write IDEMPOTENT: a batch
    * REPLAYED after a crash (checkpoint WAL says uncommitted) rewrites
    * byte-identical content over itself rather than appending
    * duplicates. Checkpoint WAL + deterministic partial + idempotent
    * partition write = end-to-end exactly-once for the sink directory;
    * readers see only whole partitions.
    */
  private def batchPartitionSink(spark: SparkSession, streamDir: String,
      schema: StructType, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int)(partial: DataFrame => DataFrame): Unit =
    StreamingQueries.drive(spark, streamDir, schema, StreamingQueries.BatchParts,
        Some(maxFilesPerTrigger), Some(checkpointDir)) { stream =>
      stream.writeStream.outputMode("update").foreachBatch {
        (batch: Dataset[Row], batchId: Long) =>
          partial(batch.toDF())
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(outDir)
          ()
      }
    }

  /** EXACTLY-ONCE continuous near-dup ingest: each arriving
    * micro-batch of documents is classified against the STATIC corpus
    * (st10's `Dedup.incrementalNearDup` classification) and landed
    * durably in parquet — the end of the continuous-ingest story: a
    * corpus label table that survives restarts with no duplicates and
    * no losses.
    *
    * Why not the native file sink: the classification needs a
    * batch-side argmax aggregate (best corpus match per doc), which a
    * watermark-free document stream cannot express in append mode —
    * so the write goes through [[batchPartitionSink]] and is made
    * IDEMPOTENT instead: the classification is deterministic in
    * (corpus, batch), so a replayed batch rewrites its own partition.
    *
    * Scale shape is st10's: the corpus index is static per run; only
    * the arriving batch pays the shingle/verify work.
    */
  def streamNearDupToParquet(spark: SparkSession, corpus: DataFrame,
      streamDir: String, schema: org.apache.spark.sql.types.StructType,
      outDir: String, checkpointDir: String,
      minJaccard: Double = 0.5, maxFilesPerTrigger: Int = 1): Unit = {
    // shingle/band the corpus ONCE for the stream's lifetime — the
    // persisted-index contract (st18's codebook shape); per batch
    // only the arriving docs pay the shingle work. Materialized LEAF
    // (r21): foreachBatch re-plans the join per micro-batch, so a
    // bare cache still re-analyzed the index's full build lineage
    // once per batch
    // released at stream close so every run rebuilds its index
    val index = graft.Artifacts.leaf(
      graft.operators.Dedup.prepNearDupIndex(corpus))
    try batchPartitionSink(spark, streamDir, schema, outDir, checkpointDir,
      maxFilesPerTrigger)(batch => graft.operators.Dedup
        .incrementalNearDupPrepped(index, batch, minJaccard = minJaccard))
    finally graft.Artifacts.release(index)
  }

  /** EXACTLY-ONCE continuous SEMANTIC-dedup ingest — st11's durable
    * sink contract on the embedding path (the streaming twin of d13
    * against a static corpus): the k-means codebook and the corpus's
    * cluster index are built ONCE before the stream starts
    * (localCheckpoint'ed — in production both are persisted artifacts
    * maintained with the corpus), then each arriving micro-batch of
    * embeddings is assigned to its nearest centroid (narrow codegen'd
    * map), verified against ONLY its cluster's corpus members, and
    * landed via [[batchPartitionSink]].
    * Classification is deterministic in (index, row) — seeded k-means,
    * no RNG — so a crash-replayed batch rewrites byte-identical
    * content: checkpoint WAL + deterministic transform + idempotent
    * partition write = end-to-end exactly-once.
    */
  def streamSemanticDedupToParquet(spark: SparkSession, corpusEmb: DataFrame,
      streamDir: String, schema: org.apache.spark.sql.types.StructType,
      outDir: String, checkpointDir: String, tau: Double = 0.9,
      maxFilesPerTrigger: Int = 1, targetClusterSize: Int = 1000): Unit = {
    val (centroids, idx) =
      graft.operators.Similarity.semanticIndex(corpusEmb, targetClusterSize)
    val cent = centroids.localCheckpoint()
    val index = idx.localCheckpoint()
    batchPartitionSink(spark, streamDir, schema, outDir, checkpointDir,
      maxFilesPerTrigger)(batch =>
      graft.operators.Similarity.classifyAgainstIndex(cent, index, batch, tau))
  }

  /** EXACTLY-ONCE durable streaming MV — the replay gap st37's
    * in-memory fold leaves open, closed: signed measures (MvSum /
    * MvCount) are NOT idempotent under at-least-once replay (a
    * re-folded batch double-counts, unlike st23's monotone bitmaps),
    * so the durable store holds BATCH-PARTIAL rows instead of a
    * rolling total. Each micro-batch aggregates its delta to MV grain
    * ([[graft.operators.MvFold.build]] — deterministic in the batch)
    * and lands it through [[batchPartitionSink]]. Readout is ONE
    * bounded merge-aggregate over the stored partials
    * ([[graft.operators.MvFold.merge]] — batches × grain rows, never
    * facts); a maintenance job can compact old partials with the same
    * merge at any time without changing the read-off.
    */
  /** `weightCol` (r19 verdict #5 — RETRACTION for the durable store):
    * name of a signed per-row weight column in the stream (+1 insert,
    * −1 retraction carrying the ORIGINAL row values). Batch partials
    * build through [[graft.operators.MvFold.buildSigned]], so a
    * correction micro-batch folds exactly: the partials stay additive,
    * a replayed batch still rewrites its identical partition
    * (exactly-once unchanged — determinism is per-batch, sign
    * included), and fully-retracted groups vanish at the read-off's
    * merge. Bitmap measures are refused with a weight column (set
    * union is monotone).
    */
  def streamMvFoldToParquet(spark: SparkSession,
      streamDir: String, schema: org.apache.spark.sql.types.StructType,
      outDir: String, checkpointDir: String,
      keys: Seq[String], measures: Seq[graft.operators.MvMeasure],
      maxFilesPerTrigger: Int = 1,
      weightCol: Option[String] = None): Unit =
    batchPartitionSink(spark, streamDir, schema, outDir, checkpointDir,
      maxFilesPerTrigger)(batch => weightCol match {
      case None => graft.operators.MvFold.build(batch, keys, measures)
      case Some(w) => graft.operators.MvFold.buildSigned(
        batch, keys, measures, col(w).cast("long"))
    })

  /** EXACTLY-ONCE durable streaming QUANTILE MV — q84's histogram MV
    * as a continuous sink, st38's durability protocol: each
    * micro-batch bucketizes its rows ([[graft.operators.MvFold.buildHist]]
    * — deterministic integer bucket math) and lands its (keys,
    * bucket)-grain signed counts through [[batchPartitionSink]]
    * (end-to-end exactly-once); bucket counts are additive, so the
    * read-off ([[readHistMvStore]]) is one bounded merge over
    * batches × (keys × buckets) rows, never facts. `value`
    * must be a non-null integer column (the cents convention —
    * [[graft.operators.MvFold.buildHist]]'s contract).
    */
  def streamHistMvToParquet(spark: SparkSession,
      streamDir: String, schema: org.apache.spark.sql.types.StructType,
      outDir: String, checkpointDir: String,
      keys: Seq[String], value: org.apache.spark.sql.Column,
      lo: Long, hi: Long, buckets: Int,
      maxFilesPerTrigger: Int = 1,
      weightCol: Option[String] = None): Unit =
    batchPartitionSink(spark, streamDir, schema, outDir, checkpointDir,
      maxFilesPerTrigger)(batch => weightCol match {
      case None => graft.operators.MvFold
        .buildHist(batch, keys, value, lo, hi, buckets)
      case Some(w) => graft.operators.MvFold
        .buildHistSigned(batch, keys, value, lo, hi, buckets, col(w).cast("long"))
    })

  /** Read a [[streamHistMvToParquet]] store: merge the bucket partials
    * and read quantiles at `percents` via the exact integer rank-walk
    * ([[graft.operators.MvFold.readHistQuantiles]]). Same guards as
    * [[readMvFoldStore]] (existence, pending compaction, schema
    * contract), at the histogram grain.
    */
  def readHistMvStore(spark: SparkSession, outDir: String,
      keys: Seq[String], percents: Seq[Int],
      lo: Long, hi: Long, buckets: Int): DataFrame = {
    import graft.operators.MvFold
    val (fs, out) = fsFor(spark, outDir)
    require(fs.exists(out),
      s"quantile MV store $outDir has no committed batches yet — the " +
        "store is created by the first micro-batch; read after at least " +
        "one commit")
    require(!fs.exists(pendingPath(out)),
      s"quantile MV store $outDir has a crashed compaction pending — run " +
        "compactHistMvStore to complete the swap, then read")
    val store = spark.read.parquet(outDir)
    MvFold.checkMvSchema(store.columns.toSeq.filterNot(_ == "batch_id"),
      keys :+ MvFold.bucketCol, Nil, s"quantile MV store $outDir")
    MvFold.readHistQuantiles(MvFold.mergeHist(store.drop("batch_id"), keys),
      keys, percents, lo, hi, buckets)
  }

  /** [[compactMvStore]] for a [[streamHistMvToParquet]] store: the
    * histogram grain is (keys, bucket) with no extra measures, so the
    * staged-swap compaction applies verbatim.
    */
  def compactHistMvStore(spark: SparkSession, outDir: String,
      keys: Seq[String], checkpointDir: Option[String] = None): Unit =
    compactMvStore(spark, outDir, keys :+ graft.operators.MvFold.bucketCol,
      Nil, checkpointDir)

  // ------------------------------------------------------------------
  // Durable-MV store maintenance plumbing. All path operations go
  // through the Hadoop FileSystem API (ADVICE r18: java.io.File is
  // local-only — an hdfs:// or s3a:// store must resolve through the
  // same filesystem spark.read does).
  // ------------------------------------------------------------------

  private def fsFor(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Batch ids the streaming checkpoint has COMMITTED — one numeric
    * file per completed micro-batch under `checkpointDir/commits/`,
    * the structured-streaming commit log's on-disk layout. CAVEAT
    * (r19 ADVICE, high): Spark PURGES this log down to the last
    * `spark.sql.streaming.minBatchesToRetain` (default 100) entries,
    * so absence from the listing does NOT mean uncommitted for OLD
    * ids — only ids GREATER than the retained maximum can be orphans
    * (micro-batch ids are sequential and batch N+1 only starts after
    * batch N commits). Callers must treat `id <= max(listed)` as
    * committed; [[compactMvStore]] does.
    */
  private def committedBatchIds(spark: SparkSession,
      checkpointDir: String): Set[Long] = {
    val (fs, p) = fsFor(spark, checkpointDir + "/commits")
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .flatMap { n =>
        if (n.nonEmpty && n.forall(_.isDigit)) Some(n.toLong) else None
      }.toSet
  }

  /** Test seam for the running-stream detection: invoked between the
    * staging write and the re-list that compares partition ids against
    * the snapshot, so a spec can deterministically interleave a
    * concurrent writer in the race window. No-op in production.
    */
  private[graft] var compactTestHook: () => Unit = () => ()

  private def mvPartitionIds(fs: org.apache.hadoop.fs.FileSystem,
      out: org.apache.hadoop.fs.Path): Seq[Long] =
    fs.listStatus(out).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)

  private def pendingPath(out: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(out, ".graft-compact-pending")

  /** Complete a compaction swap whose merged copy already landed at
    * `outDir/.graft-compact-pending` (hidden: Spark's partition
    * discovery skips dot/underscore names, so readers never see it).
    * The pending dir only ever comes into existence via an ATOMIC
    * rename of a fully-written staging partition, so its presence
    * guarantees a complete merged copy plus the manifest naming
    * exactly the partitions it folded — deleting those (and only
    * those) then renaming the pending dir to `batch_id=-1` is
    * idempotent under crash-rerun, and partitions written by a
    * later-resumed stream (absent from the manifest) survive.
    */
  private def finishPendingSwap(fs: org.apache.hadoop.fs.FileSystem,
      out: org.apache.hadoop.fs.Path): Boolean = {
    val pending = pendingPath(out)
    if (!fs.exists(pending)) return false
    val mf = new org.apache.hadoop.fs.Path(pending, "_graft_folded_partitions")
    require(fs.exists(mf),
      s"compaction pending dir $pending has no manifest — not a graft " +
        "compaction artifact; refusing to touch the store")
    val in = fs.open(mf)
    val folded = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList finally in.close()
    folded.foreach { name =>
      val p = new org.apache.hadoop.fs.Path(out, name)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val landed = new org.apache.hadoop.fs.Path(out, "batch_id=-1")
    require(fs.rename(pending, landed),
      s"could not rename $pending into place")
    // manifest cleanup LAST (and best-effort): it rides inside the
    // landed partition where Spark's underscore-prefix rule hides it,
    // so a crash right here leaves a fully consistent store
    fs.delete(new org.apache.hadoop.fs.Path(landed, "_graft_folded_partitions"),
      false)
    true
  }

  /** Compact a [[streamMvFoldToParquet]] store: collapse the batch
    * partials into ONE `batch_id = -1` partition (the same
    * [[graft.operators.MvFold.merge]] the readout runs, persisted).
    * Bounds the read-off cost after long stream lifetimes — the
    * store shrinks from (batches × grain) partials back to grain —
    * and the read-off is provably unchanged (merge is associative;
    * the spec pins it).
    *
    * CRASH SAFETY (ADVICE r18 — the previous whole-directory
    * overwrite destroyed the store if compaction died mid-write): the
    * merged partition is written DURABLY to a staging sibling first;
    * the store itself is only modified by atomic renames plus
    * manifest-scoped deletes, so at every instant either the old
    * partials or the complete merged copy exist on disk. A compaction
    * that crashes mid-swap is finished automatically by the next
    * [[compactMvStore]] call (and refused loudly by
    * [[readMvFoldStore]] until then). No overwrite ever targets the
    * live store, so the session's `partitionOverwriteMode` (static or
    * dynamic) cannot change the outcome.
    *
    * ORPHAN HANDLING (r18 verdict #4): pass `checkpointDir` and
    * compaction folds ONLY partitions the streaming checkpoint's
    * commit log recorded — a `batch_id=N` partition written by a
    * batch that crashed BEFORE its commit (whose replay, after an
    * intervening compaction, would otherwise double-count) is dropped
    * instead of entering the store permanently. Without
    * `checkpointDir` every partition folds (callers guaranteeing a
    * clean shutdown). REPLAY SAFETY: the swap manifest lists only the
    * FOLDED partitions, so if the stream is resumed after a mid-swap
    * crash and replays an orphan (landing the same WAL-pinned content
    * under the same id, then committing it), the later recovery
    * cannot delete that now-committed partition — it survives and
    * re-merges at the next read or compact (spec-pinned).
    *
    * MUST run while the stream is STOPPED — and that contract is now
    * ENFORCED, not conventional (r19 verdict #3): a create-exclusive
    * lock file (`.graft-compact-lock`, hidden from partition
    * discovery) is acquired before the partition snapshot and held
    * through the swap. A second concurrent compactor fails the
    * exclusive create and refuses loudly; a stream that commits a NEW
    * partition between the snapshot and the publish is detected by a
    * re-list taken just before the swap and the compaction aborts
    * (staging discarded, store untouched). That check is BEST-EFFORT
    * narrowing, not a proof (r21, ADVICE r20): a stream replaying an
    * ORPHAN id (same partition name, so not "new") that commits it
    * after the re-list but before the swap still loses that commit to
    * the orphan delete — the stopped-stream contract above is what
    * actually rules this out; the re-list only shrinks the window for
    * contract violators. A compactor that CRASHES leaves the lock behind —
    * the refusal message names the file; delete it once no compactor
    * is alive (the store itself is always consistent: crash recovery
    * is the manifest swap, not the lock).
    *
    * Post-compaction resumes are safe — micro-batch ids only grow, so
    * no future partition collides with −1.
    */
  def compactMvStore(spark: SparkSession, outDir: String,
      keys: Seq[String],
      measures: Seq[graft.operators.MvMeasure],
      checkpointDir: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.MvFold
    val (fs, out) = fsFor(spark, outDir)
    require(fs.exists(out),
      s"MV store $outDir has no committed batches yet — nothing to compact")
    // create-exclusive concurrency fence. ATOMICITY CAVEAT (r21,
    // ADVICE r20): create(path, overwrite=false) is atomic on HDFS
    // and local filesystems but NOT guaranteed on object stores
    // (S3A/GCS) — two compactors racing a store on such a filesystem
    // can both pass the fence; pair the store with a real lock
    // service there. Only FileAlreadyExistsException means "locked";
    // any other IOException (transient FS failure) propagates as
    // itself instead of masquerading as a lock conflict.
    val lock = new org.apache.hadoop.fs.Path(out, ".graft-compact-lock")
    def lockConflict(ownFailure: Option[java.io.IOException]): Nothing =
      throw new IllegalStateException(
        s"MV store $outDir is locked by another compaction ($lock exists). " +
          "If no compactor is alive this is a stale lock from a crashed " +
          "run — the store is consistent (recovery is the manifest swap, " +
          "not the lock); delete the lock file and re-run." +
          ownFailure.fold("")(e => " The lock may also belong to this " +
            s"failed attempt: creating it raised $e after the file appeared."),
        ownFailure.orNull)
    val lockStream =
      try fs.create(lock, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException => lockConflict(None)
        // older Hadoop impls / some connectors signal the conflict as a
        // plain IOException (ADVICE r21 #4): if the lock demonstrably
        // exists, it IS the conflict — keep the recovery guidance;
        // genuinely transient failures still propagate as themselves
        case e: java.io.IOException =>
          val exists = try fs.exists(lock) catch { case _: Throwable => false }
          if (exists) lockConflict(Some(e)) else throw e
      }
    try {
      // inside the try: a failing close must still delete the lock,
      // or it would block every later compaction
      lockStream.close()
      finishPendingSwap(fs, out) // complete a crashed predecessor first
      val store = spark.read.parquet(outDir)
      MvFold.checkMvSchema(store.columns.toSeq.filterNot(_ == "batch_id"),
        keys, measures, s"MV store $outDir")
      val partIds = mvPartitionIds(fs, out)
      require(partIds.nonEmpty, s"MV store $outDir holds no batch partitions")
      // −1 (a prior compaction's output) is committed by construction.
      // Spark PURGES the commit log to the last minBatchesToRetain
      // entries (r19 ADVICE, high), so ids at or below the retained
      // maximum are committed even when their entry is gone: batch
      // N+1 only starts after batch N commits. Only ids ABOVE the
      // retained max can be orphans.
      val foldIds = checkpointDir match {
        case None => partIds
        case Some(cp) =>
          val committed = committedBatchIds(spark, cp)
          partIds.filter(id => id == -1L || committed.contains(id) ||
            (committed.nonEmpty && id <= committed.max))
      }
      require(foldIds.nonEmpty,
        s"MV store $outDir holds no COMMITTED partitions (present: " +
          s"${partIds.sorted.mkString(",")}) — refusing to compact a store " +
          "of nothing but orphans")
      // 1. durable staging write OUTSIDE the store (a sibling path —
      //    readers of outDir cannot see it; partition pruning keeps the
      //    scan to the folded ids). Derived via Path normalization, not
      //    string concat: a trailing-slash outDir would otherwise nest
      //    the staging dir INSIDE the live store (r19 ADVICE).
      val stagingP = new org.apache.hadoop.fs.Path(
        out.getParent, out.getName + ".compacting")
      val sfs = stagingP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      sfs.delete(stagingP, true)
      MvFold.merge(
          store.filter(col("batch_id").isin(foldIds: _*)).drop("batch_id"),
          keys, measures)
        .withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("batch_id")
        .parquet(stagingP.toString)
      // 2. manifest: ONLY the partitions whose data is IN the merged
      //    copy (the swap deletes exactly this list). Orphans are
      //    deliberately NOT listed: if the operator resumes the stream
      //    after a mid-swap crash, the WAL replays an uncommitted batch
      //    under its original id and COMMITS it — a manifest-scoped
      //    delete of that partition would destroy committed data the
      //    fold never included. Unlisted, the replayed partition
      //    survives recovery and re-merges at the next read/compact.
      val stagedPart = new org.apache.hadoop.fs.Path(stagingP, "batch_id=-1")
      val mf = new org.apache.hadoop.fs.Path(stagedPart, "_graft_folded_partitions")
      val os = fs.create(mf, true)
      try os.write(foldIds.sorted.map(id => s"batch_id=$id").mkString("\n")
        .getBytes("UTF-8")) finally os.close()
      // 3. RUNNING-STREAM DETECTION, before any destructive step: a
      //    partition that appeared since the snapshot means a live
      //    stream is committing into the store — the "stopped" contract
      //    is broken. Abort with the store untouched.
      compactTestHook()
      val nowIds = mvPartitionIds(fs, out).toSet
      if ((nowIds -- partIds.toSet).nonEmpty) {
        sfs.delete(stagingP, true)
        throw new IllegalStateException(
          s"MV store $outDir grew new partitions " +
            s"${(nowIds -- partIds.toSet).toSeq.sorted.mkString(",")} during " +
            "compaction — a stream is writing to this store. compactMvStore " +
            "MUST run while the stream is stopped; compaction aborted, " +
            "store untouched.")
      }
      // 4. drop the orphans (uncommitted at this stopped instant —
      //    their replay, were the stream resumed, would land the same
      //    WAL-pinned content under the same id and then commit, so
      //    deleting junk now is safe; a crash right here leaves every
      //    committed partition intact and no fold applied)
      (partIds.toSet -- foldIds).foreach { id =>
        fs.delete(new org.apache.hadoop.fs.Path(out, s"batch_id=$id"), true)
      }
      // 5. atomic publish of the complete merged copy (hidden name), then
      //    the manifest-scoped swap shared with crash recovery
      require(fs.rename(stagedPart, pendingPath(out)),
        s"could not stage compaction into $outDir")
      finishPendingSwap(fs, out)
      sfs.delete(stagingP, true)
    } finally fs.delete(lock, false)
  }

  /** Read a [[streamMvFoldToParquet]] store: merge the batch partials
    * and finalize. Safe at any instant AFTER the first batch commits —
    * readers see only whole committed partitions. Before the first
    * commit the store directory does not exist (and carries no
    * schema), so the read is refused with a clear message rather than
    * surfacing Spark's opaque path/schema error (self-review r18: the
    * earlier scaladoc over-promised "any instant"). Likewise refused:
    * a store whose parquet schema does not match the requested
    * keys/measures (r18 verdict #8 — the mismatch otherwise dies as
    * an opaque missing-column error deep in the merge), and a store
    * with a crashed compaction pending (the partials may be partially
    * deleted; run [[compactMvStore]] to complete the swap first).
    */
  def readMvFoldStore(spark: SparkSession, outDir: String,
      keys: Seq[String],
      measures: Seq[graft.operators.MvMeasure]): DataFrame = {
    import graft.operators.MvFold
    val (fs, out) = fsFor(spark, outDir)
    require(fs.exists(out),
      s"MV store $outDir has no committed batches yet — the store is " +
        "created by the first micro-batch; read after at least one commit")
    require(!fs.exists(pendingPath(out)),
      s"MV store $outDir has a crashed compaction pending — its partials " +
        "may be partially swapped; run compactMvStore to complete the " +
        "swap, then read")
    val store = spark.read.parquet(outDir)
    MvFold.checkMvSchema(store.columns.toSeq.filterNot(_ == "batch_id"),
      keys, measures, s"MV store $outDir")
    MvFold.read(MvFold.merge(store.drop("batch_id"), keys, measures),
      keys, measures)
  }
}

object StreamingQueries {

  /* st9/st10 SOURCE FIXTURES: the multi-file "arriving batches"
    * directories the file streams consume. Written once per (session,
    * sfDir) and memoized in graft.Artifacts — the fixture is demo setup
    * standing in for files landing from outside, not part of the
    * streamed operator, so timed runs measure stream consumption, not
    * the fixture write.
    *
    * TWO files per fixture (r22; was 4): micro-batching is
    * semantics-free for every consumer (per-doc decisions against a
    * static index, associative MV folds — each entry's own comment
    * carries the argument, and the oracles pin it), so batch count
    * only buys per-batch fixed cost. Two batches are the minimum that
    * still exercises both maintenance paths (store init, then a
    * fold/merge into existing state) — st9's 2-file precedent, now
    * uniform. StreamProf (plans/r22/streamprof_before.txt) measured
    * the per-batch fixed cost at 0.10–0.15 s of checkpoint-log fsync
    * plus 0.3–0.5 s of addBatch on row counts this small; at real
    * arrival rates trigger sizing is exactly this knob (guide §1.2:
    * remove unnecessary passes).
    */

  /** Shuffle partitions of a stream's scoped session. Stateful
    * streaming keeps one state store per shuffle partition per stateful
    * operator (four for a stream-stream join), and the count fixes the
    * query's state layout for its lifetime; at fixture scale a large
    * count is pure store-setup overhead. The memory-sink and stateful
    * entries and st16 run at [[StatefulParts]]; the foreachBatch folds
    * and the durable sinks at [[BatchParts]].
    */
  private[streaming] val StatefulParts = 4
  private[streaming] val BatchParts = 8

  /** Root of the scratch STREAMING CHECKPOINTS (offset WAL, commit
    * log, state store). A registry entry's stream starts fresh on a
    * fresh checkpoint every call, so these go to the fastest local
    * filesystem available: `/dev/shm` when writable (the checkpoint
    * fsync is a pure per-batch tax on a disk-backed /tmp: StreamProf
    * measured walCommit+commitOffsets ≈ 0.07 s/batch on ext4), else
    * the JVM tmpdir. SPARK_GRAFT_STREAM_TMP overrides the root; sink
    * OUTPUT directories are not affected, only checkpoints.
    */
  private[graft] def scratchRoot: Path =
    sys.env.get("SPARK_GRAFT_STREAM_TMP").map(Paths.get(_)).getOrElse {
      val shm = Paths.get("/dev/shm")
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(sys.props("java.io.tmpdir"))
    }

  /** `f` over a fresh checkpoint directory under [[scratchRoot]],
    * deleted once `f` returns or throws. */
  private def withScratchCheckpoint[T](f: String => T): T = {
    val ckpt = Files.createTempDirectory(scratchRoot, "graft_stream_ckpt")
    try f(ckpt.toString)
    finally graft.Artifacts.deleteTree(ckpt)
  }

  /** Start `writer` on `checkpoint` (a scratch one, deleted after the
    * stream stops, when None), process everything available, stop.
    * The engine's one place that runs a stream; a kept checkpoint lets
    * a later run resume where this one committed. */
  private[streaming] def run(writer: DataStreamWriter[Row],
      checkpoint: Option[String]): StreamingQuery = {
    def go(ckpt: String): StreamingQuery = {
      val q = writer.option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    checkpoint.fold(withScratchCheckpoint(go))(go)
  }

  /** The stream driver: open `dir` as a parquet file stream with
    * `schema`, `maxFilesPerTrigger` files per micro-batch (every file
    * in one batch when None), on a session scoped from `caller` with
    * `parts` shuffle partitions, and [[run]] `writer` over it. The
    * caller's config is never touched, so concurrent callers of one
    * session do not see each other's settings. What the sink registers
    * (a memory sink's view) lives on the scoped session, which the
    * returned, stopped query carries as `sparkSession`.
    */
  private[streaming] def drive(caller: SparkSession, dir: String,
      schema: StructType, parts: Int, maxFilesPerTrigger: Option[Int] = Some(1),
      checkpoint: Option[String] = None)(
      writer: DataFrame => DataStreamWriter[Row]): StreamingQuery = {
    val scoped = GraftSession.scoped(caller,
      "spark.sql.shuffle.partitions" -> parts.toString)
    // the scoped session has its own streaming query manager: it
    // reports to exactly the caller's listeners
    scoped.streams.listListeners().foreach(scoped.streams.removeListener)
    caller.streams.listListeners().foreach(scoped.streams.addListener)
    val unhook = new Unhook(scoped)
    scoped.streams.addListener(unhook)
    val reader = maxFilesPerTrigger.foldLeft(scoped.readStream.schema(schema))(
      (r, n) => r.option("maxFilesPerTrigger", n.toString))
    try run(writer(reader.parquet(dir)), checkpoint)
    finally if (!unhook.started) unhook()
  }

  /** A session's streaming query manager hooks its listener bus into
    * the context's event bus for the life of the context. A scoped
    * session runs one stream, so its bus is unhooked once that stream
    * has terminated (after the caller's listeners got every event of
    * it), or at once if it never started. */
  private final class Unhook(scoped: SparkSession) extends StreamingQueryListener {
    @volatile var started = false
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started = true
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      apply()
    def apply(): Unit = GraftColumnBridge.unhookStreamBus(scoped, this)
  }

  /** A foreachBatch fold over the fixture `dir`, one file per
    * micro-batch: `fold` sees each batch's rows in arrival order. */
  private def foldStream(s: SparkSession, dir: String)(
      fold: DataFrame => Unit): Unit =
    drive(s, dir, Tables.schema(s, dir), BatchParts) { stream =>
      stream.writeStream.outputMode("update").foreachBatch {
        (batch: Dataset[Row], _: Long) => fold(batch.toDF())
      }
    }

  private def mvStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.mv", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_mv_stream")
      // prune to the MV's columns before the temp write: the stream
      // (and the write) carry only what rollupMv reads
      graft.operators.HierarchyAgg.salesFacts(s, d)
        .select("leaf_key", "customer_id", "unit_quantity", "sales_amount")
        .repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }

  /** st42's SIGNED stream fixture: the flagship pair-grain facts as
    * insert files (w = +1) plus ONE retraction file (w = −1) carrying
    * the original rows of a deterministic slice (customers ≡ 3 mod
    * 10, even part keys) — the correction feed a durable rollup store
    * receives when upstream restates data.
    */
  private def mvRetractStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.mvr", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_mvr_stream")
      val facts = graft.operators.HierarchyAgg.salesFacts(s, d)
      val cols = Seq("leaf_key", "customer_id", "unit_quantity",
        "sales_amount").map(col)
      facts.select(cols: _*).withColumn("w", lit(1L))
        .repartition(1).write.mode("overwrite").parquet(dir)
      facts
        .filter(pmod(col("customer_id"), lit(10)) === 3 &&
          pmod(col("l_partkey"), lit(2)) === 0)
        .select(cols: _*).withColumn("w", lit(-1L))
        .repartition(1).write.mode("append").parquet(dir)
      dir
    }

  private def ndStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.nd", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_nd_stream")
      Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) === 0)
        .repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }

  /** d8's training-corpus split (doc_id % 50 ≠ 0) as a 4-file stream
    * source — st34 ingests it in micro-batches against the static
    * eval gram index.
    */
  private def decontamStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.decontam", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_dc_stream")
      Tables.documents(s, d).filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }

  private def embStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.emb", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_emb_stream")
      Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(5)) === 0)
        .repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }

  /** m20's corrupted-media frame (m3-dim BMP synth with the two
    * planted corruption classes) as a 4-file stream source — st36
    * routes each arriving micro-batch through the permissive decode.
    */
  private def quarantineStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.quarantine", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_q_stream")
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .map { case (id, text) =>
          val w = (2 + (id % 6)).toInt
          val h = (2 + (id % 4)).toInt
          val bmp = graft.operators.Multimodal.synthBmp(w, h, text)
          val payload =
            if (id % 7 == 0) java.util.Arrays.copyOf(bmp, 20)
            else if (id % 7 == 3) java.util.Arrays.copyOf(bmp, 56)
            else bmp
          graft.operators.Multimodal.MediaRow(id, payload, "image/bmp", w, h)
        }
        .toDF().repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }

  /** m18's synthesized-BMP media frame (the WHOLE corpus) as a 4-file
    * stream source — st35 tiles arriving images per micro-batch and
    * probes them against the static tile-hash index of the same
    * corpus.
    */
  private def tilesStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.tiles", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_tile_stream")
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .map { case (id, text) =>
          val w = (8 + (id % 5)).toInt
          val h = (8 + (id % 3)).toInt
          graft.operators.Multimodal.MediaRow(id,
            graft.operators.Multimodal.synthBmp(w, h, text), "image/bmp", w, h)
        }
        .toDF().repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }

  /** q81's order facts (priority, year, cents, custkey — cents keep
    * the additive partials exact integers) as a 4-file stream
    * source — st37 folds each arriving micro-batch into the generic
    * MvFold store.
    */
  private def ordersMvStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.ordmv", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_ordmv_stream")
      Tables.orders(s, d).select(
          col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("order_year"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"),
          col("o_custkey"))
        .repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }

  /** st43's SIGNED orders stream: insert files (w = +1) plus one
    * retraction file (w = −1) restating the o_orderkey ≡ 0 mod 7
    * slice — the correction feed on the quantile-MV plane.
    */
  private def ordersRetractStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.ordmvr", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_ordrt_stream")
      val ord = Tables.orders(s, d)
      val sel = Seq(col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      ord.select(sel: _*).withColumn("w", lit(1L))
        .repartition(1).write.mode("overwrite").parquet(dir)
      ord.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(sel: _*).withColumn("w", lit(-1L))
        .repartition(1).write.mode("append").parquet(dir)
      dir
    }

  /** The full documents table as a 4-file stream source — st39
    * ingests it in micro-batches and maintains the t28 datasheet
    * incrementally.
    */
  private def docsStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.docsfull", d) {
      val dir = graft.Artifacts.sessionDir(s, "graft_docs_stream")
      Tables.documents(s, d)
        .repartition(2).write.mode("overwrite").parquet(dir)
      dir
    }

  /** Build every stream source fixture at `d`. The engine's warm is
    * each entry's first call, which builds the fixtures that entry
    * reads; this hook stays because perfbench's `ingest` set-up calls
    * it by name.
    */
  def warmFixtures(s: SparkSession, d: String): Unit = {
    mvStreamDir(s, d); ndStreamDir(s, d); embStreamDir(s, d)
    decontamStreamDir(s, d); tilesStreamDir(s, d)
    quarantineStreamDir(s, d); ordersMvStreamDir(s, d)
    docsStreamDir(s, d); ()
  }

  /** The events file as a stream source: FileStreamSource reads a
    * directory, so this is one holding a symlink to it. */
  private def eventsStreamDir(s: SparkSession, d: String): String =
    graft.Artifacts.memo(s, "stream.events", d) {
      val dir = Files.createDirectories(
        Paths.get(graft.Artifacts.sessionDir(s, "graft_events_stream")))
      Files.createSymbolicLink(dir.resolve("events.parquet"),
        Paths.get(s"$d/events.parquet"))
      dir.toString
    }

  /** [[drive]] over the events source, read as ONE micro-batch (a
    * watermarked append query over several batches would drop the
    * rows a later batch brings in late). ONE ts normalization for
    * batch and stream: Tables.normalizeTs branches on the physical
    * encoding (nanos-long / NTZ / timestamp). */
  private def driveEvents(s: SparkSession, d: String)(
      writer: DataFrame => DataStreamWriter[Row]): StreamingQuery =
    drive(s, eventsStreamDir(s, d), Tables.schema(s, s"$d/events.parquet"),
      StatefulParts, maxFilesPerTrigger = None)(ev => writer(Tables.normalizeTs(ev)))

  /** Drive a Structured Streaming query over the events parquet to
    * completion and return the (batch) result: `build` runs over the
    * event stream into a uniquely-named memory sink in `outputMode`,
    * and the sink's contents come back as a frame of `spark` (its view
    * stays on the stream's scoped session). The registered streaming
    * forms run through the SAME driver gate as every batch query — st3
    * shares st1's oracle (watermarked streaming agg ≡ batch agg), st4
    * has a session-identity oracle.
    */
  private def runStream(spark: SparkSession, sfDir: String,
      outputMode: String = "complete")(
      build: DataFrame => DataFrame): DataFrame = {
    val qname = "graft_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = driveEvents(spark, sfDir)(ev => build(ev).writeStream
      .outputMode(outputMode).format("memory").queryName(qname))
    GraftSession.rebind(spark, q.sparkSession.table(qname))
  }

  /** q61's Holt level+trend fold over a FINALIZED (event_type, d, c)
    * day frame — the batch half of st28, factored so the spec can
    * drive it over a MemoryStream-finalized fixture. Day 1 of each
    * series seeds the level and is not emitted (no forecast exists
    * for it); coefficients are q61's dyadic α=1/2, β=1/4 so the fold
    * is bit-reproducible against the recursive-CTE oracle.
    */
  private[graft] def holtOverFinalized(finalized: DataFrame): DataFrame = {
    val series = finalized.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("xs"))
    series.withColumn("fold", expr(
      """aggregate(slice(xs, 2, size(xs) - 1),
           named_struct(
             'lv', CAST(element_at(xs, 1).c AS DOUBLE),
             'tr', CAST(0.0 AS DOUBLE), 'fst', true,
             'lvs', CAST(array() AS ARRAY<DOUBLE>),
             'trs', CAST(array() AS ARRAY<DOUBLE>),
             'fcs', CAST(array() AS ARRAY<DOUBLE>)),
           (st, x) -> named_struct(
             'lv', CASE WHEN st.fst THEN 0.5D * x.c + 0.5D * st.lv
                   ELSE 0.5D * x.c + 0.5D * (st.lv + st.tr) END,
             'tr', CASE WHEN st.fst
                   THEN (0.5D * x.c + 0.5D * st.lv) - st.lv
                   ELSE 0.25D * ((0.5D * x.c + 0.5D * (st.lv + st.tr))
                                 - st.lv) + 0.75D * st.tr END,
             'fst', false,
             'lvs', concat(st.lvs, array(
               CASE WHEN st.fst THEN 0.5D * x.c + 0.5D * st.lv
               ELSE 0.5D * x.c + 0.5D * (st.lv + st.tr) END)),
             'trs', concat(st.trs, array(
               CASE WHEN st.fst
               THEN (0.5D * x.c + 0.5D * st.lv) - st.lv
               ELSE 0.25D * ((0.5D * x.c + 0.5D * (st.lv + st.tr))
                             - st.lv) + 0.75D * st.tr END)),
             'fcs', concat(st.fcs, array(st.lv + st.tr))),
           st -> st)"""))
      .select(col("event_type"), col("xs"),
        col("fold.lvs").as("lvs"), col("fold.trs").as("trs"),
        col("fold.fcs").as("fcs"))
      .select(col("event_type"),
        explode(arrays_zip(expr("slice(xs, 2, size(xs) - 1)").as("xs"),
          col("lvs"), col("trs"), col("fcs"))).as("z"))
      .select(col("event_type"),
        date_format(col("z.xs.d"), "yyyy-MM-dd").as("day"),
        col("z.xs.c").cast("long").as("n_events"),
        round(col("z.lvs"), 6).as("level"),
        round(col("z.trs"), 6).as("trend"),
        round(col("z.fcs"), 6).as("forecast"),
        round(col("z.xs.c") - col("z.fcs"), 6).as("forecast_err"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st1_windowed_agg" -> ((s, d) => StreamingOps.windowedAgg(Tables.events(s, d))),
    "st2_sessionize" -> ((s, d) => StreamingOps.sessionize(Tables.events(s, d))),
    // streaming-native forms, driven to completion on the same data
    "st3_windowed_agg_stream" -> ((s, d) =>
      runStream(s, d)(StreamingOps.windowedAggStream)),
    "st4_session_window_stream" -> ((s, d) =>
      runStream(s, d)(ev =>
        StreamingOps.sessionWindowAgg(ev.withWatermark("ts", "1 hour")))),
    // STREAMING fixed-width histogram (q39 streamed): watermarked
    // windows × arithmetic value buckets — state bounded by
    // domain/width × horizon, never event count
    "st12_stream_histogram" -> ((s, d) =>
      runStream(s, d)(ev => StreamingOps.histogramStream(ev))),
    // st12 in TRUE APPEND MODE — the production monitoring contract:
    // each window's histogram is emitted EXACTLY ONCE, when the
    // watermark (max event time − 1 h) passes its end. The bounded
    // source arrives as one micro-batch, then the no-data batch
    // finalizes every window whose end ≤ watermark — so the result is
    // deterministic: the batch histogram restricted to closed windows,
    // which is exactly what the oracle computes. Complete mode (st12)
    // re-emits everything per trigger; append is what a downstream
    // alerting sink can actually consume.
    "st13_stream_histogram_append" -> ((s, d) =>
      runStream(s, d, outputMode = "append")(ev => StreamingOps.histogramStream(ev))),
    // st4's session windows in TRUE APPEND MODE: a session is emitted
    // exactly once, when the watermark passes its end (last event +
    // gap). On the bounded source that's deterministic — the batch
    // sessionization restricted to sessions closed before
    // max(ts) − 1 h — so the continuous-sessionization production
    // contract (emit a user's session when it's provably over, never
    // re-emit) gets a DuckDB oracle, not just a spec.
    "st14_session_window_append" -> ((s, d) =>
      runStream(s, d, outputMode = "append")(ev =>
        StreamingOps.sessionWindowAgg(ev.withWatermark("ts", "1 hour")))),
    // st13's append histogram landed through the DURABLE FILE SINK and
    // read back — the complete production monitoring pipeline in one
    // verified entry: watermarked agg (append emits each window once,
    // on close) → parquet file sink (manifest-committed micro-batches,
    // exactly-once files) → the sink CONTENTS are the result, so the
    // oracle (st13's closed-window SQL) checks windowing, emission
    // and durability together.
    "st16_stream_histogram_sink" -> ((s, d) => {
      val out = graft.Artifacts.sessionDir(s, "graft_hist_sink")
      driveEvents(s, d)(ev =>
        StreamingOpsSinks.parquetSink(StreamingOps.histogramStream(ev), out))
      s.read.parquet(out)
        .select("window_start", "bucket", "n_events", "sum_value")
    }),
    // the CUSTOM-STATE sessionization path (KeyValueGroupedDataset.
    // flatMapGroupsWithState) registered against the same
    // session-identity oracle as st4: per user the state is the open
    // session, emitted on the gap timeout — the API every
    // beyond-session_window stateful operator uses, now driver-gated
    // rather than spec-only
    "st17_fmgws_sessionize" -> ((s, d) =>
      StreamingOps.sessionizeFMGWS(s, Tables.events(s, d)).toDF()),
    // custom-state QUOTA ADMISSION (p14's per-source cap as a
    // continuous process): one counter per type, first-come by
    // (ts, id), over-quota events dropped at the gate
    "st32_stream_quota" -> ((s, d) =>
      StreamingOps.quotaAdmitFMGWS(s, Tables.events(s, d)).toDF()),
    // custom-state ATTRIBUTION (q44 streamed): per-user state is two
    // fixed-size touch slots; each purchase emits its credit exactly
    // once — checked against q44's own oracle SQL
    "st20_stream_attribution" -> ((s, d) =>
      StreamingOps.attributionFMGWS(s, Tables.events(s, d)).toDF()),
    // custom-state SCD2 (q45 as a continuous process): per-user state
    // is the single open interval; each event closes it, emitting the
    // closed row exactly once — checked against q34's rebuild SQL
    // filtered to closed intervals
    "st21_stream_scd2" -> ((s, d) =>
      StreamingOps.scd2FMGWS(s, Tables.events(s, d)).toDF()),
    // custom-state EWMA CONTROL CHART (q54 streamed): per-type state
    // is four scalars (open day, count, EWMA, seeded flag); each
    // day's chart point emits exactly once when a later-day event
    // closes it — checked against q54's recursive-CTE oracle
    // restricted to closed days (σ needs the full horizon, so the
    // online chart emits count/EWMA/residual; banding is the
    // consumer's choice of control limits)
    "st25_stream_ewma" -> ((s, d) =>
      StreamingOps.ewmaFMGWS(s, Tables.events(s, d)).toDF()),
    // custom-state HOLT FORECAST (q61 streamed): st25's day-close
    // machine carrying the level+trend double recurrence; each closed
    // day's point emits exactly once — checked against q61's
    // recursive-CTE oracle restricted to closed days
    "st26_stream_holt" -> ((s, d) =>
      StreamingOps.holtFMGWS(s, Tables.events(s, d)).toDF()),
    // the PRODUCTION chart pipeline st25's zero-lateness scaladoc
    // prescribes: a WATERMARKED 1-day tumbling aggregation in append
    // mode finalizes each (type, day) count exactly once — events up
    // to 1 h late land in the still-open window and are COUNTED, the
    // tolerance the bare fMGWS day-close machine cannot offer — and
    // the EWMA recurrence then folds over the finalized day rows
    // (day grain, q54's fold verbatim minus the σ band). Oracle =
    // the daily-count EWMA recursion restricted to watermark-closed
    // days (st13's cutoff convention).
    "st27_stream_chart_pipeline" -> ((s, d) => {
      val finalized = runStream(s, d, outputMode = "append")(ev =>
        ev.withWatermark("ts", "1 hour")
          .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
          .agg(count(lit(1)).cast("double").as("c"))
          .select(col("event_type"), col("w.start").as("d"), col("c")))
      val series = finalized.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("xs"))
      series.withColumn("fold", expr(
        """aggregate(xs,
             named_struct('ew', CAST(0.0 AS DOUBLE), 'fst', true,
                          'ews', CAST(array() AS ARRAY<DOUBLE>),
                          'res', CAST(array() AS ARRAY<DOUBLE>)),
             (st, x) -> named_struct(
               'ew', CASE WHEN st.fst THEN x.c
                          ELSE 0.25D * x.c + 0.75D * st.ew END,
               'fst', false,
               'ews', concat(st.ews, array(
                 CASE WHEN st.fst THEN x.c
                      ELSE 0.25D * x.c + 0.75D * st.ew END)),
               'res', concat(st.res, array(
                 CASE WHEN st.fst THEN CAST(0.0 AS DOUBLE)
                      ELSE x.c - st.ew END))),
             st -> st)"""))
        .select(col("event_type"), col("xs"),
          col("fold.ews").as("ews"), col("fold.res").as("res"))
        .select(col("event_type"),
          explode(arrays_zip(col("xs"), col("ews"), col("res"))).as("z"))
        .select(col("event_type"),
          date_format(col("z.xs.d"), "yyyy-MM-dd").as("day"),
          col("z.xs.c").cast("long").as("n_events"),
          round(col("z.ews"), 6).as("ewma"),
          round(col("z.res"), 6).as("resid"))
    }),
    // st27's production lateness tolerance for the HOLT forecast
    // (closing st26's zero-lateness caveat the way st27 closed
    // st25's): the watermarked 1-day tumbling aggregation finalizes
    // each (type, day) count exactly once — events up to 1 h late are
    // COUNTED — and q61's level+trend double recurrence folds over
    // the finalized day rows (dyadic coefficients, day 1 seeds and is
    // not emitted). Oracle = q61's recursive CTE restricted to
    // watermark-closed days (st27's cutoff convention).
    "st28_stream_holt_pipeline" -> ((s, d) =>
      holtOverFinalized(runStream(s, d, outputMode = "append")(ev =>
        ev.withWatermark("ts", "1 hour")
          .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
          .agg(count(lit(1)).cast("double").as("c"))
          .select(col("event_type"), col("w.start").as("d"), col("c"))))),
    // STREAMING CORRELATION (q66's moments in the state store): per
    // (type, watermark-finalized day), Pearson r between the event
    // value and its second-of-day — "does this metric drift through
    // the day", maintained incrementally. The six sufficient
    // statistics are DECIMAL(38,0) sums of exact integers (value
    // micro-quantized at 1e6 — per-row squares stay inside Long; the
    // cross-partition sums are overflow-proof and order-free in the
    // streaming partial aggregates), so the state row per cell is six
    // numbers, never the events. Closed-form finalization AFTER the
    // sink, q66's exact parenthesization; zero-variance cells → null.
    // Oracle = the same moments restricted to watermark-closed days.
    "st31_stream_corr" -> ((s, d) =>
      StreamingOps.corrFinalize(
        runStream(s, d, outputMode = "append")(
          StreamingOps.corrMomentsStream))),
    // STREAMING BENFORD: q69's first-digit fraud screen per
    // watermark-closed day — integer digit extraction inside the
    // state store, shares finalized over the closed day×9 frame
    "st33_stream_benford" -> ((s, d) =>
      StreamingOps.benfordFinalize(
        runStream(s, d, outputMode = "append")(
          StreamingOps.benfordDigitsStream))),
    // STREAMING windowed TOP-K: the bounded-heap TopKByScore aggregate
    // running INSIDE the streaming state store — per 15-minute window,
    // the 3 highest-value events. State per window is the k-entry
    // heap (serialized into the store row), never the window's event
    // list; the same "only nTasks × k tuples cross the shuffle" shape
    // as q37, now incremental. Proves the custom TypedImperative
    // aggregates compose with Structured Streaming unchanged.
    "st15_windowed_topk" -> ((s, d) =>
      runStream(s, d)(ev =>
        ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "15 minutes").as("w"))
          .agg(graft.functions.TopKAggregate.topkByScore(
            round(col("value"), 9), col("value"), col("event_id"), 3).as("tk"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
            posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("window_start"), (col("pos") + 1).cast("long").as("rank"),
            col("t.id").as("event_id"), round(col("t.score"), 6).as("value")))),
    // STREAMING HEAVY HITTERS: the SpaceSaving frequent-items
    // aggregate (q42's) running inside the streaming state store —
    // per 15-minute window, the most frequent event types with error
    // bounds. State per window is the ≤capacity-entry summary
    // (serialized into the store row), never the window's event list —
    // the monitoring shape for "top URLs/agents this window" over a
    // quasi-unbounded key domain. event_type's 5-value domain keeps
    // capacity 16 in the EXACT regime, so the bounded stream converges
    // to the batch frequency ranking and DuckDB oracles it directly.
    "st19_stream_heavy_hitters" -> ((s, d) =>
      runStream(s, d)(ev =>
        ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "15 minutes").as("w"))
          .agg(graft.functions.FrequentItemsAggregate
            .frequentItems(col("event_type"), 16).as("hh"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
            posexplode(col("hh")).as(Seq("pos", "h")))
          .select(col("window_start"), (col("pos") + 1).cast("long").as("rank"),
            col("h.item").as("event_type"), col("h.count").as("cnt"),
            col("h.err").as("err")))),
    // STREAMING EXACT DISTINCT: q51's bitmap aggregate inside the
    // streaming state store — per 15-minute window, the exact count
    // of distinct active users. The streaming-native alternatives
    // both break: approx_count_distinct is approximate, and a
    // dropDuplicates→count chain needs TWO stateful operators (its
    // dedup state is per (window, user) — key-grain); the bitmap's
    // state per window is ONE sparse-encoded buffer, merges are
    // word-OR (exactly the incremental fold streaming needs), and
    // the count is always exact → windowed COUNT(DISTINCT) oracle.
    "st22_stream_distinct" -> ((s, d) =>
      runStream(s, d)(ev =>
        ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "15 minutes").as("w"))
          .agg(graft.functions.BitmapDistinctAggregate
            .bitmapDistinct(col("user_id"), 1 << 21).as("distinct_users"),
            count(lit(1)).as("n_events"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
            col("distinct_users"), col("n_events")))),
    // STREAMING APPROX DISTINCT over an UNBOUNDED key domain: st22's
    // bitmap is exact but needs a bounded id dictionary; at true
    // 100 TB stream scale (open-world user ids) the state must be a
    // sketch. KMV (h12's bottom-k aggregate) runs INSIDE the
    // streaming state store: per window the state is the 64 smallest
    // distinct id hashes — fixed 8·64 bytes however many users flow
    // through — and because the sketch is deterministic and
    // merge-order-free, the windowed estimate has an EXACT oracle
    // (the estimator re-derived per window in SQL), not an
    // error-bound check.
    "st29_stream_approx_distinct" -> ((s, d) =>
      runStream(s, d)(ev =>
        ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "15 minutes").as("w"))
          .agg(graft.functions.KmvSketch.kmvSketch(
              graft.functions.KmvSketch.kmvHash(col("user_id").cast("long")), 64)
              .as("sk"),
            count(lit(1)).as("n_events"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
            graft.functions.KmvSketch.kmvEstimate(col("sk"), 64)
              .as("approx_distinct_users"),
            col("n_events")))),
    // STREAMING SKETCH SET ALGEBRA (q63's audience-overlap arithmetic
    // maintained continuously): per event type, TWO KMV cohort
    // sketches (users on even- vs odd-keyed events) built as
    // CONDITIONAL aggregates inside ONE streaming groupBy — streaming
    // allows a single stateful aggregation, so the cohort split must
    // live in the aggregate inputs (the BottomK aggregate null-skips),
    // not in a second aggregation or a self-join. State per type is
    // 2×64 longs regardless of traffic; union = pairwise sketch
    // merge, intersection by inclusion–exclusion — all on the emitted
    // row, no second pass. Deterministic hash ⇒ exact oracle
    "st30_stream_sketch_setops" -> ((s, d) =>
      runStream(s, d)(ev => {
        import graft.functions.KmvSketch._
        val even = pmod(col("event_id"), lit(2L)) === 0L
        ev.groupBy("event_type")
          .agg(
            kmvSketch(when(even, kmvHash(col("user_id"))), 64).as("ska"),
            kmvSketch(when(!even, kmvHash(col("user_id"))), 64).as("skb"))
          .select(col("event_type"),
            kmvEstimate(col("ska"), 64).as("est_a"),
            kmvEstimate(col("skb"), 64).as("est_b"),
            kmvEstimate(expr("slice(array_sort(array_union(ska, skb)), 1, 64)"),
              64).as("est_union"))
          .withColumn("est_intersect",
            greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
      })),
    // streaming exact dedup: state-store-backed dropDuplicates on the
    // event stream (the streaming twin of d1's batch dedup shape) —
    // per event type, events surviving dedup on (user, type)
    "st5_stream_dedup" -> ((s, d) =>
      runStream(s, d)(ev =>
        ev.dropDuplicates("user_id", "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_unique_users")))),
    // stream-static enrichment: the event stream broadcast-joined to a
    // small static dimension (per-micro-batch broadcast hash join — the
    // standard streaming enrichment shape; no stream-side shuffle
    // before the aggregate's own)
    "st6_stream_static_join" -> ((s, d) => {
      import s.implicits._
      val cohorts = Seq((0L, "control"), (1L, "variant_a"),
        (2L, "variant_b"), (3L, "holdout")).toDF("cohort_key", "cohort")
      runStream(s, d)(ev =>
        ev.withColumn("cohort_key", pmod(col("user_id"), lit(4L)))
          .join(broadcast(cohorts), "cohort_key")
          .groupBy("cohort", "event_type")
          .agg(count(lit(1)).as("n_events"),
            round(sum("value"), 2).as("total_value")))
    }),
    // STREAMING-NATIVE sliding-window aggregation: 30-minute windows
    // every 15 minutes — each event contributes to 2 overlapping
    // windows; watermarked, driven to completion
    "st8_sliding_window_stream" -> ((s, d) =>
      runStream(s, d)(StreamingOps.slidingWindowAggStream)),
    // STREAMING INCREMENTAL ROLLUP MAINTENANCE: the h9 materialized
    // view maintained by a stream — the fact table arrives as 2
    // micro-batches (maxFilesPerTrigger=1 over a 2-file source) and
    // foreachBatch folds each into the (node, customer) MV through
    // mergeRollupMv; only the arriving batch ever pays a fact-side
    // shuffle, exactly the 100 TB continuous-ingest story. Two batches
    // exercise both maintenance paths (MV init, then a merge) while
    // paying the per-batch fixed cost (job scheduling, localCheckpoint)
    // the minimum number of times — correctness is batch-count-
    // invariant, so more batches only buy overhead. Each merge is
    // materialized (localCheckpoint) because a micro-batch frame is
    // only valid inside its own batch. Oracle = the full recompute
    // (h4's SQL): maintenance must be result-identical to recomputing.
    "st9_incremental_rollup_stream" -> ((s, d) => {
      val adim = graft.operators.HierarchyQueries.dimension(s, d).aggregationDim
      var mv: DataFrame = null
      foldStream(s, mvStreamDir(s, d)) { delta =>
        mv = (if (mv == null) graft.operators.HierarchyAgg.rollupMv(delta, adim)
              else graft.operators.HierarchyAgg.mergeRollupMv(mv, delta, adim))
          .localCheckpoint()
      }
      graft.operators.HierarchyAgg.finalizeRollup(mv, adim)
    }),
    // STREAMING EXACT-DISTINCT MV (h24 as a continuous process): each
    // micro-batch folds into the stored per-node bitmaps — new = old
    // OR delta, the only fold exact distinct admits — so the store
    // answers "exact distinct customers per node" at every point in
    // the ingest with no fact re-scan. The bitmap's idempotent union
    // also makes REPLAYED batches harmless (at-least-once delivery
    // still yields exact counts — a property no count-based MV has).
    // Oracle: the read-off after the full stream must equal h24's
    // full recompute.
    "st23_stream_distinct_mv" -> ((s, d) => {
      val adim = graft.operators.HierarchyQueries.dimension(s, d).aggregationDim
      var mv: DataFrame = null
      foldStream(s, mvStreamDir(s, d)) { delta =>
        mv = (if (mv == null)
                graft.operators.HierarchyAgg.distinctMv(delta, adim, 1 << 21)
              else
                graft.operators.HierarchyAgg.mergeDistinctMv(mv, delta, adim, 1 << 21))
          .localCheckpoint()
      }
      graft.operators.HierarchyAgg.readDistinctMv(mv)
    }),
    // STREAMING near-dup ingest: d11's batch side arrives as a stream
    // of micro-batches, each classified against the STATIC corpus
    // shingle index with the same batch×corpus blocked verify
    // (Dedup.incrementalNearDup) and accumulated. Classification of a
    // doc depends only on (corpus, doc), so micro-batching is
    // semantics-free: the union over batches is exactly the
    // single-shot d11 answer — which is the oracle. The production
    // shape of continuous-ingest dedup: corpus index static per run,
    // only the day's ingest pays the verify.
    "st10_stream_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      var acc: DataFrame = null
      // corpus index built once for the stream (the persisted-index
      // contract); per batch only the arriving docs shingle
      val index = graft.Artifacts.leaf(
        graft.operators.Dedup.prepNearDupIndex(corpus))
      try foldStream(s, ndStreamDir(s, d)) { batch =>
        val classified = graft.operators.Dedup
          .incrementalNearDupPrepped(index, batch, minJaccard = 0.05)
          .localCheckpoint()
        acc = if (acc == null) classified else acc.unionByName(classified)
      } finally graft.Artifacts.release(index)
      acc
    }),
    // STREAMING DECONTAMINATION GATE (round 17; d8 re-based on a
    // stream): the training corpus ingests in micro-batches and each
    // batch probes the STATIC eval gram index (built once, st10's
    // persisted-index contract) — per-doc contamination depends only
    // on the doc's own grams and the index, so the per-batch results
    // union to exactly the batch answer, and the d8 oracle is reused
    // verbatim. The gate every streaming corpus ingest should run
    // BEFORE a doc reaches training storage.
    "st34_stream_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val eval = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      var acc: DataFrame = null
      val index = graft.Artifacts.leaf(graft.operators.Dedup.evalGramIndex(eval))
      try foldStream(s, decontamStreamDir(s, d)) { batch =>
        val flagged = graft.operators.Dedup
          .decontaminatePrepped(batch, index)
          .localCheckpoint()
        acc = if (acc == null) flagged else acc.unionByName(flagged)
      } finally graft.Artifacts.release(index)
      if (acc == null)
        graft.operators.Dedup.decontaminate(docs.limit(0), eval)
      else acc
    }),
    // STREAMING SUBIMAGE MATCHING (round 18; m19 re-based on a
    // stream, r17 verdict #6): images ingest in micro-batches, each
    // batch tiles INSIDE its tasks (m18's grid) and probes the STATIC
    // tile-hash index built once over the full corpus (st10's
    // persisted-index contract). The index's doc_a < doc_b join
    // orientation makes each copied-region pair emit in exactly the
    // batch where its higher-id doc arrives, so the union over
    // batches is provably m19's single-shot answer — the m19 oracle
    // is reused VERBATIM. The image-ingest gate a multimodal corpus
    // runs before a scraped image reaches training storage.
    "st35_stream_subimage" -> ((s, d) => {
      val dir = tilesStreamDir(s, d)
      var acc: DataFrame = null
      val catalogTiles = graft.operators.Multimodal
        .imageTiles(s, Tables.read(s, dir), patch = 4).toDF()
      val index = graft.Artifacts.leaf(
        graft.operators.Multimodal.subimageIndex(catalogTiles))
      try foldStream(s, dir) { batch =>
        val tiles = graft.operators.Multimodal
          .imageTiles(s, batch, patch = 4).toDF()
        val pairs = graft.operators.Multimodal
          .subimageProbePrepped(index, tiles)
          .localCheckpoint()
        acc = if (acc == null) pairs else acc.unionByName(pairs)
      } finally graft.Artifacts.release(index)
      if (acc == null)
        graft.operators.Multimodal.subimageMatches(catalogTiles.limit(0))
      else acc
    }),
    // STREAMING DECODE QUARANTINE (round 18; m20 re-based on a
    // stream): scraped media ingests in micro-batches and each batch
    // runs the permissive decode INSIDE its tasks — good rows carry
    // the strict-path stats toward training storage, malformed
    // payloads become in-band quarantine records instead of killing
    // the ingest job. Per-doc outcomes depend only on the doc's own
    // bytes, so batch results union to exactly the single-shot answer
    // and m20's oracle is reused VERBATIM — the decode gate every
    // streaming media pipeline runs at real corpus scale, where a
    // fail-fast decoder aborting the stream on one bad file is the
    // #1 operational failure.
    "st36_stream_quarantine" -> ((s, d) => {
      val dir = quarantineStreamDir(s, d)
      var acc: DataFrame = null
      foldStream(s, dir) { batch =>
        val out = graft.operators.Multimodal
          .extractFeaturesQuarantine(s, batch,
            new graft.operators.Multimodal.BmpCodec)
          .toDF().localCheckpoint()
        acc = if (acc == null) out else acc.unionByName(out)
      }
      if (acc == null)
        graft.operators.Multimodal.extractFeaturesQuarantine(s,
          Tables.read(s, dir).limit(0),
          new graft.operators.Multimodal.BmpCodec).toDF()
      else acc
    }),
    // STREAMING CORPUS DATASHEET (round 18; t28 as a continuously
    // maintained MV): documents ingest in micro-batches; TWO MvFold
    // stores carry the report — per-source signal sums (docs, tokens,
    // chars, predicted-lang indicators, quality ppm: all additive →
    // MvSum/MvCount at |sources| grain) and a (source, content-hash)
    // count MV for the NON-additive part, duplicate exposure (a dup
    // is defined against the whole corpus, so it can only be read off
    // cross-batch state — the hash-grain MV is exactly the state a
    // production exact-dup tracker keeps). Read-off reconstructs
    // t28's columns: integer avg = sum div n, dup_docs = per-source
    // counts of hashes whose GLOBAL count exceeds 1. Only each batch
    // pays per-doc signal work; the stores re-aggregate at their own
    // grains. Oracle = t28's full recompute VERBATIM.
    "st39_stream_datasheet" -> ((s, d) => {
      import graft.operators.{MvFold, MvSum, MvCount}
      import graft.functions.TextFunctions._
      def perDoc(df: DataFrame): DataFrame = df
        .withColumn("toks", tokens(lower(col("text"))))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("s_en", markerCount(col("toks"), enMarkers))
        .withColumn("s_fr", markerCount(col("toks"), frMarkers))
        .withColumn("s_es", markerCount(col("toks"), esMarkers))
        .withColumn("s_de", markerCount(col("toks"), deMarkers))
        .withColumn("n_stop", col("s_en"))
        .withColumn("n_long", size(filter(col("toks"), t => length(t) > 5)))
        .withColumn("pred",
          langId(col("s_en"), col("s_fr"), col("s_es"), col("s_de")))
        .withColumn("q", qualityPpm)
        .withColumn("__key", sha2(col("text"), 256))
      val sKeys = Seq("source")
      val sMeasures = Seq(
        MvSum("n_tokens", col("n_toks")),
        MvSum("n_chars", col("n_chars_in")),
        MvSum("n_en", when(col("pred") === "en", 1L).otherwise(0L)),
        MvSum("n_fr", when(col("pred") === "fr", 1L).otherwise(0L)),
        MvSum("n_es", when(col("pred") === "es", 1L).otherwise(0L)),
        MvSum("n_de", when(col("pred") === "de", 1L).otherwise(0L)),
        MvSum("sum_q", col("q")),
        MvCount("n_docs"))
      val hKeys = Seq("source", "__key")
      val hMeasures = Seq(MvCount("cnt"))
      var sigMv: DataFrame = null
      var hashMv: DataFrame = null
      foldStream(s, docsStreamDir(s, d)) { batch =>
        // materialize the per-doc signals ONCE per batch (r22): both
        // MV folds read `delta`, and as a lazy frame the whole
        // tokenize/markerCount/sha2 pass ran twice per batch — once
        // inside each fold's localCheckpoint job. Project to the
        // measure inputs first so the checkpoint holds narrow signal
        // columns, not the token arrays/text (guide §2.3: narrow what
        // you materialize)
        val delta = perDoc(batch)
          .withColumn("n_chars_in", length(col("text")).cast("long"))
          .select("source", "n_toks", "n_chars_in", "pred", "q", "__key")
          .localCheckpoint()
        sigMv = (if (sigMv == null) MvFold.build(delta, sKeys, sMeasures)
                 else MvFold.fold(sigMv, delta, sKeys, sMeasures))
          .localCheckpoint()
        hashMv = (if (hashMv == null) MvFold.build(delta, hKeys, hMeasures)
                  else MvFold.fold(hashMv, delta, hKeys, hMeasures))
          .localCheckpoint()
      }
      require(sigMv != null && hashMv != null, "empty stream source")
      val hashes = MvFold.read(hashMv, hKeys, hMeasures)
      val totals = hashes.groupBy("__key").agg(sum("cnt").as("total"))
      val dups = hashes.join(totals.filter(col("total") > 1), "__key")
        .groupBy("source").agg(sum("cnt").as("dup_docs"))
      MvFold.read(sigMv, sKeys, sMeasures)
        .join(dups, Seq("source"), "left")
        .withColumn("dup_docs", coalesce(col("dup_docs"), lit(0L)))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_en"), col("n_fr"), col("n_es"),
          col("n_de"),
          expr("sum_q div n_docs").as("avg_quality_ppm"),
          col("dup_docs"),
          expr("(1000000 * dup_docs) div n_docs").as("dup_ppm"))
    }),
    // STREAMING GENERIC MV (round 18; q81's MvFold as a continuous
    // process): order facts ingest in micro-batches and each batch
    // folds into ONE stored MV carrying all three measure kinds at
    // once — MvSum (exact integer cents), MvCount, and the
    // append-only exact-distinct bitmap. Only the arriving delta
    // pays a fact-side shuffle (one hash-aggregate at MV grain);
    // the store re-aggregates at its own bounded grain — at 100 TB
    // the stream folds a day's ingest, never re-scans history. The
    // fold is associative over batch boundaries (the MvFoldSpec
    // invariance property), so the read-off after the full stream
    // equals the single-shot build — the oracle is q81's full
    // recompute WITHOUT its retraction slice (all orders enter).
    "st37_stream_mv_fold" -> ((s, d) => {
      import graft.operators.{MvFold, MvSum, MvCount, MvBitmapDistinct}
      val dir = ordersMvStreamDir(s, d)
      val keys = Seq("o_orderpriority", "order_year")
      val measures = Seq(MvSum("sum_cents", col("cents")),
        MvCount("n_orders"),
        MvBitmapDistinct("distinct_cust", col("o_custkey"), 1 << 21))
      var mv: DataFrame = null
      foldStream(s, dir) { delta =>
        mv = (if (mv == null) MvFold.build(delta, keys, measures)
              else MvFold.fold(mv, delta, keys, measures))
          .localCheckpoint()
      }
      if (mv == null)
        mv = MvFold.build(Tables.read(s, dir).limit(0), keys, measures)
      MvFold.read(mv, keys, measures)
        .select(col("o_orderpriority"), col("order_year"),
          round(col("sum_cents").cast("double") / 100.0, 2).as("sum_price"),
          col("n_orders"), col("distinct_cust"))
    }),
    // st37's fold landed through the EXACTLY-ONCE durable MV store:
    // signed measures are NOT replay-idempotent (a re-folded batch
    // double-counts sums — the gap st37's in-memory fold leaves
    // open), so the store holds batch-PARTIAL partitions written
    // idempotently (each batch overwrites exactly its own batch_id=N
    // partition) and the registered result is the post-stream
    // READ-OFF: one bounded MvFold.merge over the partials. The
    // crash-replay proof (delete the last checkpoint commit, re-run,
    // sums unchanged) lives in StreamingSpec; the oracle is st37's
    // full recompute verbatim.
    "st38_stream_mv_sink" -> ((s, d) => {
      import graft.operators.{MvSum, MvCount, MvBitmapDistinct}
      val dir = ordersMvStreamDir(s, d)
      val schema = Tables.schema(s, dir)
      val out = graft.Artifacts.sessionDir(s, "graft_mvsink")
      val keys = Seq("o_orderpriority", "order_year")
      val measures = Seq(MvSum("sum_cents", col("cents")),
        MvCount("n_orders"),
        MvBitmapDistinct("distinct_cust", col("o_custkey"), 1 << 21))
      withScratchCheckpoint(StreamingOpsSinks.streamMvFoldToParquet(
        s, dir, schema, out, _, keys, measures))
      StreamingOpsSinks.readMvFoldStore(s, out, keys, measures)
        .select(col("o_orderpriority"), col("order_year"),
          round(col("sum_cents").cast("double") / 100.0, 2).as("sum_price"),
          col("n_orders"), col("distinct_cust"))
    }),
    // the FLAGSHIP rollup as a DURABLE exactly-once stream (round 19):
    // st9 maintains the reference's headline query live but holds its
    // MV in memory — a crash loses the fold. Here the (leaf, customer)
    // pair grain — the flagship MV grain, rollupMv's contract — lands
    // through the generic durable store (deterministic batch partials,
    // idempotent batch_id overwrite, replay-safe for the signed sums),
    // and the read-off is the UNCHANGED engine: broadcast closure
    // expansion + finalizeRollup, exact distinct read off the pair
    // grain. The reference's main.py result, continuously maintained,
    // crash-safe, never re-scanning history.
    "st41_stream_hier_rollup" -> ((s, d) => {
      import graft.operators.{MvSum, MvCount}
      val adim = graft.operators.HierarchyQueries.dimension(s, d).aggregationDim
      val dir = mvStreamDir(s, d)
      val schema = Tables.schema(s, dir)
      val out = graft.Artifacts.sessionDir(s, "graft_hrmv")
      val keys = Seq("leaf_key", "customer_id")
      val measures = Seq(MvSum("mv_sales", col("sales_amount")),
        MvSum("mv_qty", col("unit_quantity")), MvCount("mv_n"))
      withScratchCheckpoint(StreamingOpsSinks.streamMvFoldToParquet(
        s, dir, schema, out, _, keys, measures))
      graft.operators.HierarchyAgg.finalizeRollup(
        graft.operators.HierarchyAgg.rollupMvFromPairs(
          StreamingOpsSinks.readMvFoldStore(s, out, keys, measures), adim),
        adim)
    }),
    // RETRACTION through the durable rollup store (round 20, r19
    // verdict #5): st41 is append-only — here the stream carries a
    // signed weight column (+1 inserts, then a −1 CORRECTION batch
    // restating a slice of the facts), folded through the same
    // exactly-once store via MvFold.buildSigned. Signed partials stay
    // additive, a replayed batch rewrites its identical partition
    // (sign included), fully-retracted (leaf, customer) pairs vanish
    // at the merge so the EXACT distinct-customer read-off tracks the
    // deletes. Oracle = full recompute over the SURVIVING facts; the
    // crash-replay proof reuses st38's protocol in StreamingSpec.
    "st42_stream_retraction" -> ((s, d) => {
      import graft.operators.{MvSum, MvCount}
      val adim = graft.operators.HierarchyQueries.dimension(s, d).aggregationDim
      val dir = mvRetractStreamDir(s, d)
      val schema = Tables.schema(s, dir)
      val out = graft.Artifacts.sessionDir(s, "graft_rtmv")
      val keys = Seq("leaf_key", "customer_id")
      val measures = Seq(MvSum("mv_sales", col("sales_amount")),
        MvSum("mv_qty", col("unit_quantity")), MvCount("mv_n"))
      withScratchCheckpoint(StreamingOpsSinks.streamMvFoldToParquet(
        s, dir, schema, out, _, keys, measures, weightCol = Some("w")))
      graft.operators.HierarchyAgg.finalizeRollup(
        graft.operators.HierarchyAgg.rollupMvFromPairs(
          StreamingOpsSinks.readMvFoldStore(s, out, keys, measures), adim),
        adim)
    }),
    // q84's quantile MV as a CONTINUOUS durable store (round 19):
    // each micro-batch lands its (priority, year, bucket)-grain
    // signed counts under the idempotent batch_id overwrite (bucket
    // math is deterministic integer arithmetic, so a crash-replayed
    // batch rewrites identical partials — st38's exactly-once
    // argument verbatim); the read-off is q84's exact integer
    // rank-walk over the merged store. Quantiles maintained
    // continuously without ever re-scanning history: the classic
    // "p95 by segment, live" dashboard primitive. Oracle = q84's
    // derivation without the retraction slice (this stream is
    // append-only; retraction stays q84's batch-side contract).
    "st40_stream_quantile_mv" -> ((s, d) => {
      val dir = ordersMvStreamDir(s, d)
      val schema = Tables.schema(s, dir)
      val out = graft.Artifacts.sessionDir(s, "graft_histmv")
      val keys = Seq("o_orderpriority", "order_year")
      val (lo, hi, nb) = (0L, 1L << 26, 4096)
      withScratchCheckpoint(StreamingOpsSinks.streamHistMvToParquet(
        s, dir, schema, out, _, keys, col("cents"), lo, hi, nb))
      StreamingOpsSinks.readHistMvStore(s, out, keys, Seq(50, 95),
        lo, hi, nb)
    }),
    // RETRACTION on the QUANTILE plane (round 20; st42's signed-weight
    // contract applied to the histogram MV — together they close the
    // retraction matrix in streaming: sums/counts retract (st42),
    // bucket counts retract (here), bitmaps refuse by monotonicity).
    // Bucket assignment is deterministic integer math, so a
    // correction row's negative count lands in EXACTLY the bucket its
    // insert hit and cancels at the merge; the rank-walk then reads
    // quantiles of the SURVIVING distribution. Oracle = st40's bucket
    // derivation over orders minus the retracted slice.
    "st43_stream_quantile_retraction" -> ((s, d) => {
      val dir = ordersRetractStreamDir(s, d)
      val schema = Tables.schema(s, dir)
      val out = graft.Artifacts.sessionDir(s, "graft_histrt")
      val keys = Seq("o_orderpriority", "order_year")
      val (lo, hi, nb) = (0L, 1L << 26, 4096)
      withScratchCheckpoint(StreamingOpsSinks.streamHistMvToParquet(
        s, dir, schema, out, _, keys, col("cents"), lo, hi, nb,
        weightCol = Some("w")))
      StreamingOpsSinks.readHistMvStore(s, out, keys, Seq(50, 95),
        lo, hi, nb)
    }),
    // st10's classification landed through the EXACTLY-ONCE durable
    // sink: foreachBatch + idempotent batch_id-partition overwrite
    // (see [[StreamingOpsSinks.streamNearDupToParquet]]). The
    // registered form runs the full stream → sink → read-back cycle
    // on fresh out/checkpoint dirs; the result is the sink CONTENTS,
    // so the oracle (d11's single-shot SQL) checks durability and
    // classification together. The restart/replay path is proven in
    // StreamingSpec by deleting the last checkpoint commit and
    // re-running — the replayed batch must not duplicate rows.
    "st11_stream_neardup_sink" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val dir = ndStreamDir(s, d)
      val schema = Tables.schema(s, dir)
      val out = graft.Artifacts.sessionDir(s, "graft_nd_sink")
      withScratchCheckpoint(StreamingOpsSinks.streamNearDupToParquet(
        s, corpus, dir, schema, out, _, minJaccard = 0.05))
      s.read.parquet(out)
        .select("doc_id", "status", "match_id", "match_jaccard")
    }),
    // STREAMING SEMANTIC-dedup ingest — the embedding-path twin of
    // st11: the batch fifth of the embeddings table arrives as 4
    // micro-batches, each assigned to the static corpus's k-means
    // codebook and verified only within its cluster, landed through
    // the exactly-once idempotent sink and read back. k-means → no
    // SQL oracle (rows-only); StreamingSpec proves streamed ≡
    // single-shot incrementalSemanticDedup and planted-dup labels.
    "st18_stream_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val dir = embStreamDir(s, d)
      val schema = Tables.schema(s, dir)
      val out = graft.Artifacts.sessionDir(s, "graft_sem_sink")
      // targetClusterSize pins the SINGLE-CLUSTER regime (autoK = 1)
      // at every gate SF BY CONFIGURATION, not by corpus-size
      // accident — the exact-oracle argument below requires it, and
      // sf0.1's 1600-vector corpus would otherwise tip to k = 2.
      // k > 1 blocking stays spec-covered in SimilaritySpec.
      withScratchCheckpoint(StreamingOpsSinks.streamSemanticDedupToParquet(
        s, corpusEmb, dir, schema, out, _, tau = 0.9,
        targetClusterSize = 100000))
      s.read.parquet(out)
        .select("vec_id", "cluster_id", "status", "match_id", "match_cos")
    }),
    // stream-STREAM join: clicks joined to same-user purchases within
    // 30 minutes after the click. Both sides carry watermarks and the
    // join predicate bounds event-time distance, so the state store
    // evicts rows once the watermark passes — the state is bounded by
    // the 30-minute window, never the whole stream. Inner stream-stream
    // joins emit on match → append mode.
    "st7_stream_stream_join" -> ((s, d) =>
      // a stream-stream join allocates FOUR state stores per shuffle
      // partition (left/right × keyed/keyless): StatefulParts
      runStream(s, d, outputMode = "append") { ev =>
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"),
            col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") > col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
          .select(col("user_id"), col("click_id"), col("purchase_id"))
      }),
    // LEFT-OUTER stream-stream join — the delivery contract st7's
    // inner join can't give: a click with NO purchase inside its
    // 30-minute window still emits (purchase_id NULL) once the
    // WATERMARK proves no match can arrive — the state-eviction
    // rule, made observable. Unmatched clicks too close to the end
    // of the bounded input (expiry not yet passed by the final
    // watermark = max event time − 1 h delay) stay IN STATE and do
    // not emit — the oracle encodes exactly that cutoff, so the
    // entry pins Spark's outer-emission semantics, not just the
    // join rows.
    "st24_stream_left_join" -> ((s, d) =>
      runStream(s, d, outputMode = "append") { ev =>
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"),
            col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") > col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
          "left_outer")
          .select(col("user_id"), col("click_id"), col("purchase_id"))
      })
  )

  val oracles: Map[String, String] = Map(
    // stream-maintained MV ≡ full recompute (h9's invariant, streamed)
    "st9_incremental_rollup_stream" ->
      graft.operators.HierarchyQueries.oracles("h9_incremental_rollup"),
    // durable flagship rollup ≡ the same full recompute (st9's oracle;
    // the exactly-once store adds durability, not semantics)
    "st41_stream_hier_rollup" ->
      graft.operators.HierarchyQueries.oracles("h9_incremental_rollup"),
    // signed durable rollup ≡ full recompute over the SURVIVING facts
    // (the retraction batch must subtract exactly — sums, counts, and
    // the exact distinct read-off)
    "st42_stream_retraction" ->
      graft.operators.HierarchyQueries.retractionRollupSql,
    // stream-maintained bitmap MV ≡ full distinct recompute (h24's
    // invariant, streamed)
    "st23_stream_distinct_mv" ->
      graft.operators.HierarchyQueries.oracles("h24_incremental_distinct"),
    // streamed classification ≡ the single-shot incremental near-dup
    // (d11's invariant, streamed)
    "st10_stream_neardup" ->
      graft.operators.DedupQueries.oracles("d11_incremental_neardup"),
    // streamed micro-batch decontamination ≡ the single-shot d8 gate
    "st34_stream_decontam" ->
      graft.operators.DedupQueries.oracles("d8_decontaminate"),
    // streamed tiling + static-index probe ≡ m19's single-shot
    // self-join (each pair emits in its higher-id doc's batch)
    "st35_stream_subimage" ->
      graft.operators.MultimodalQueries.oracles("m19_subimage_match"),
    // per-doc decode outcomes are batch-independent, so the streamed
    // union ≡ m20's single-shot permissive decode
    "st36_stream_quarantine" ->
      graft.operators.MultimodalQueries.oracles("m20_decode_quarantine"),
    // incrementally maintained datasheet ≡ t28's single-shot report
    // (per-source signals are additive; dup exposure reads off the
    // cross-batch hash-grain MV)
    "st39_stream_datasheet" ->
      graft.operators.TextQueries.oracles("t28_corpus_datasheet"),
    // durable MV store read-off ≡ the same full recompute (st37's
    // oracle; the sink adds exactly-once durability, not semantics)
    "st38_stream_mv_sink" ->
      """SELECT o_orderpriority,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           ROUND(CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_cust
         FROM orders GROUP BY 1, 2""",
    // stream-maintained quantile store ≡ q84's bucket derivation over
    // ALL orders (no retraction slice — the stream is append-only);
    // same integer rank-walk, answers exact to one 16384-cent bucket
    "st40_stream_quantile_mv" ->
      """WITH f AS (
           SELECT o_orderpriority,
             CAST(year(o_orderdate) AS BIGINT) AS order_year,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         b AS (
           SELECT o_orderpriority, order_year,
             LEAST(4095, GREATEST(0, cents // 16384)) AS bucket,
             COUNT(*) AS cnt
           FROM f GROUP BY 1, 2, 3),
         c AS (
           SELECT *,
             SUM(cnt) OVER (PARTITION BY o_orderpriority, order_year
                            ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY o_orderpriority, order_year) AS n
           FROM b)
         SELECT o_orderpriority, order_year,
           MIN(CASE WHEN cum >= (50 * n + 99) // 100
                    THEN CAST(bucket * 16384 AS BIGINT) END) AS p50,
           MIN(CASE WHEN cum >= (95 * n + 99) // 100
                    THEN CAST(bucket * 16384 AS BIGINT) END) AS p95
         FROM c GROUP BY 1, 2""",
    // signed quantile store ≡ the same bucket derivation over the
    // SURVIVING orders (the retraction batch must cancel its slice's
    // bucket counts exactly)
    "st43_stream_quantile_retraction" ->
      """WITH f AS (
           SELECT o_orderpriority,
             CAST(year(o_orderdate) AS BIGINT) AS order_year,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders
           WHERE o_orderkey % 7 <> 0),
         b AS (
           SELECT o_orderpriority, order_year,
             LEAST(4095, GREATEST(0, cents // 16384)) AS bucket,
             COUNT(*) AS cnt
           FROM f GROUP BY 1, 2, 3),
         c AS (
           SELECT *,
             SUM(cnt) OVER (PARTITION BY o_orderpriority, order_year
                            ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY o_orderpriority, order_year) AS n
           FROM b)
         SELECT o_orderpriority, order_year,
           MIN(CASE WHEN cum >= (50 * n + 99) // 100
                    THEN CAST(bucket * 16384 AS BIGINT) END) AS p50,
           MIN(CASE WHEN cum >= (95 * n + 99) // 100
                    THEN CAST(bucket * 16384 AS BIGINT) END) AS p95
         FROM c GROUP BY 1, 2""",
    // stream-folded generic MV ≡ full recompute per measure semantics
    // (q81's invariant, streamed, without the retraction slice)
    "st37_stream_mv_fold" ->
      """SELECT o_orderpriority,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           ROUND(CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_cust
         FROM orders GROUP BY 1, 2""",
    // durable sink contents ≡ the single-shot incremental near-dup
    "st11_stream_neardup_sink" ->
      graft.operators.DedupQueries.oracles("d11_incremental_neardup"),
    "st1_windowed_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
           event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM events GROUP BY 1, 2""",
    "st2_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR (epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP))) > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         sessions AS (
           SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
           FROM flagged)
         SELECT user_id, sess_idx,
           strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM sessions GROUP BY user_id, sess_idx""",
    // identical semantics to st1: a watermarked streaming agg over a
    // bounded input converges to the batch aggregate
    "st3_windowed_agg_stream" ->
      """SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
           event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM events GROUP BY 1, 2""",
    // streamed windowed top-k converges to the batch rank: top 3 by
    // (round(value,9) desc, event_id asc) per tumbling window
    "st15_windowed_topk" ->
      """WITH w AS (
           SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
             event_id, value,
             row_number() OVER (
               PARTITION BY time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               ORDER BY round(value, 9) DESC, event_id ASC) AS rn
           FROM events)
         SELECT window_start, CAST(rn AS BIGINT) AS rank, event_id,
           ROUND(value, 6) AS value
         FROM w WHERE rn <= 3""",
    // exact-regime SpaceSaving converges to the plain windowed
    // frequency ranking with zero errors
    "st19_stream_heavy_hitters" ->
      """WITH w AS (
           SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
             event_type, COUNT(*) AS cnt
           FROM events GROUP BY 1, 2)
         SELECT window_start,
           CAST(row_number() OVER (PARTITION BY window_start
             ORDER BY cnt DESC, event_type ASC) AS BIGINT) AS rank,
           event_type, cnt, CAST(0 AS BIGINT) AS err
         FROM w""",
    // the bitmap is exact at any merge order, so the streamed windows
    // converge to the plain windowed distinct
    "st22_stream_distinct" ->
      """SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
           COUNT(DISTINCT user_id) AS distinct_users,
           COUNT(*) AS n_events
         FROM events GROUP BY 1""",
    // the KMV estimator re-derived per window: hash the window's
    // distinct users (the h12 LCG∘xorshift∘LCG bijection), exact
    // count below k=64, else (k−1)·M / 64th-smallest
    "st29_stream_approx_distinct" ->
      """WITH e AS (
           SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS w,
             user_id,
             (1103515245 * xor((1103515245 * CAST(user_id AS BIGINT) + 12345) % 2147483648,
                               ((1103515245 * CAST(user_id AS BIGINT) + 12345) % 2147483648) // 8192)
              + 12345) % 2147483648 AS h
           FROM events)
         SELECT strftime(w, '%Y-%m-%d %H:%M') AS window_start,
           CASE WHEN COUNT(DISTINCT user_id) < 64 THEN COUNT(DISTINCT user_id)
                ELSE CAST(FLOOR(63.0 * 2147483648 /
                  (list_sort(list_distinct(list(h))))[64] + 0.5) AS BIGINT)
           END AS approx_distinct_users,
           COUNT(*) AS n_events
         FROM e GROUP BY w""",
    // complete mode processes the whole table, so the oracle is the
    // batch sketch algebra: per type, bottom-64 of the deterministic
    // hash per cohort, union over the merged distinct set
    "st30_stream_sketch_setops" ->
      """WITH hh AS (
           SELECT DISTINCT event_type, (event_id % 2 = 0) AS even,
             (1103515245 * xor((1103515245 * CAST(user_id AS BIGINT) + 12345) % 2147483648,
                ((1103515245 * CAST(user_id AS BIGINT) + 12345) % 2147483648) // 8192)
              + 12345) % 2147483648 AS h
           FROM events),
         ska AS (
           SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM hh WHERE even),
         skb AS (
           SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM hh WHERE NOT even),
         sku AS (
           SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM (SELECT DISTINCT event_type, h FROM hh)),
         ea AS (
           SELECT event_type,
             CASE WHEN COUNT(*) < 64 THEN COUNT(*)
               ELSE CAST(FLOOR(63.0 * 2147483648 / MAX(CASE WHEN rn = 64
                 THEN h END) + 0.5) AS BIGINT) END AS est_a
           FROM ska WHERE rn <= 64 GROUP BY 1),
         eb AS (
           SELECT event_type,
             CASE WHEN COUNT(*) < 64 THEN COUNT(*)
               ELSE CAST(FLOOR(63.0 * 2147483648 / MAX(CASE WHEN rn = 64
                 THEN h END) + 0.5) AS BIGINT) END AS est_b
           FROM skb WHERE rn <= 64 GROUP BY 1),
         eu AS (
           SELECT event_type,
             CASE WHEN COUNT(*) < 64 THEN COUNT(*)
               ELSE CAST(FLOOR(63.0 * 2147483648 / MAX(CASE WHEN rn = 64
                 THEN h END) + 0.5) AS BIGINT) END AS est_union
           FROM sku WHERE rn <= 64 GROUP BY 1)
         SELECT ea.event_type, est_a, est_b, est_union,
           GREATEST(est_a + est_b - est_union, 0) AS est_intersect
         FROM ea JOIN eb USING (event_type) JOIN eu USING (event_type)""",
    // append emits exactly the sessions CLOSED by the watermark: the
    // batch sessionization restricted to sessions whose end (last
    // event + 30-minute gap) precedes max(ts) − 1 hour
    "st14_session_window_append" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR (epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP))) > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         sessions AS (
           SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
           FROM flagged),
         agg AS (
           SELECT user_id,
             strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
             MAX(CAST(ts AS TIMESTAMP)) AS session_last,
             COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
           FROM sessions GROUP BY user_id, sess_idx)
         SELECT user_id, session_start, n_events, total_value
         FROM agg
         WHERE session_last + INTERVAL 30 MINUTE
           <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR FROM events)""",
    // sink contents ≡ the append emission: exactly the closed windows
    "st16_stream_histogram_sink" ->
      """WITH b AS (
           SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS wstart,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
             COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
           FROM events GROUP BY 1, 2)
         SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start,
           bucket, n_events, sum_value
         FROM b
         WHERE wstart + INTERVAL 15 MINUTE
           <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR FROM events)""",
    // append mode emits exactly the watermark-closed windows: the
    // batch histogram restricted to windows whose end precedes
    // max(ts) − 1 hour
    "st13_stream_histogram_append" ->
      """WITH b AS (
           SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS wstart,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
             COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
           FROM events GROUP BY 1, 2)
         SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start,
           bucket, n_events, sum_value
         FROM b
         WHERE wstart + INTERVAL 15 MINUTE
           <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR FROM events)""",
    // the streamed histogram must equal the batch fixed-width form
    "st12_stream_histogram" ->
      """SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
           CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    // the FMGWS path must produce the identical session set
    // the streamed attribution converges to the batch q44 on the
    // bounded source — same oracle SQL, verbatim
    "st20_stream_attribution" ->
      graft.operators.OlapQueries.oracles("q44_attribution"),
    // the streamed SCD2 emits exactly the batch rebuild's CLOSED
    // intervals (open intervals live in state, not the output)
    "st21_stream_scd2" ->
      """WITH iv AS (
           SELECT user_id, event_id, event_type AS state,
             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
             strftime(lead(CAST(ts AS TIMESTAMP)) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
         SELECT user_id, event_id, state, valid_from, valid_to
         FROM iv WHERE valid_to IS NOT NULL""",
    // st18 in the gate's SINGLE-CLUSTER regime (d13's argument,
    // streamed): the 400-vector corpus gives autoK = 1, where the
    // k-means codebook provably cannot affect membership — every
    // batch vector lands in the one cluster (id = min corpus vec_id)
    // and classification is the exact argmax over the whole corpus,
    // SQL-computable with d5's proven cosine parity. k > 1 blocking
    // stays spec-covered; the exactly-once sink replay is spec-proven.
    "st18_stream_semantic_dedup" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         corpus AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
         batch AS (SELECT * FROM n WHERE vec_id % 5 = 0),
         cid AS (SELECT MIN(vec_id) AS cluster_id FROM corpus),
         pairs AS (
           SELECT b.vec_id, c.vec_id AS corpus_id,
             list_sum(list_transform(list_zip(b.v, c.v), s -> s[1] * s[2]))
               / (b.nrm * c.nrm) AS cos
           FROM batch b CROSS JOIN corpus c),
         hits AS (
           SELECT vec_id, corpus_id, cos, row_number() OVER
             (PARTITION BY vec_id
              ORDER BY ROUND(cos, 9) DESC, corpus_id ASC) AS rn
           FROM pairs WHERE ROUND(cos, 9) >= 0.9),
         best AS (
           SELECT vec_id, corpus_id AS match_id, cos AS match_cos
           FROM hits WHERE rn = 1)
         SELECT b.vec_id, cid.cluster_id,
           CASE WHEN best.match_id IS NULL THEN 'new'
                ELSE 'semantic_dup_of_corpus' END AS status,
           best.match_id,
           ROUND(best.match_cos, 6) AS match_cos
         FROM batch b CROSS JOIN cid
         LEFT JOIN best ON b.vec_id = best.vec_id""",
    // the batch-deterministic admission rule as one global window
    "st32_stream_quota" ->
      """SELECT event_type, event_id, CAST(rn AS BIGINT) AS admit_rank
         FROM (SELECT event_type, event_id,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY ts, event_id) AS rn
               FROM events)
         WHERE rn <= 150""",
    // the same micro-quantized moments, HUGEINT sums, identical
    // finalization parenthesization, watermark-closed days only
    "st31_stream_corr" ->
      """WITH u AS (
           SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS x,
             date_diff('second',
               date_trunc('day', CAST(ts AS TIMESTAMP)),
               CAST(ts AS TIMESTAMP)) AS y
           FROM events),
         m AS (
           SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x * y AS HUGEINT)) AS sxy,
             SUM(CAST(x * x AS HUGEINT)) AS sxx,
             SUM(CAST(y * y AS HUGEINT)) AS syy
           FROM u
           WHERE d + INTERVAL 1 DAY <=
             (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
              FROM events)
           GROUP BY 1, 2)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n_events,
           CASE WHEN (CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n_events AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0 THEN
             ROUND((CAST(n_events AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n_events AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           END AS corr_value_tod
         FROM m""",
    // q69's digit arithmetic restricted to watermark-closed days;
    // shares divide exact counts over the per-day frame
    "st33_stream_benford" ->
      """WITH u AS (
           SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(substr(CAST(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)
               AS VARCHAR), 1, 1) AS BIGINT) AS digit
           FROM events
           WHERE CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) > 0
             AND date_trunc('day', CAST(ts AS TIMESTAMP)) + INTERVAL 1 DAY
               <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
                   FROM events)),
         g AS (
           SELECT d, digit, CAST(COUNT(*) AS BIGINT) AS n_events
           FROM u GROUP BY 1, 2),
         w AS (
           SELECT g.*,
             CAST(n_events AS DOUBLE)
               / CAST(SUM(n_events) OVER (PARTITION BY d) AS DOUBLE) AS share,
             log10(1.0 + 1.0 / digit) AS benford
           FROM g)
         SELECT strftime(d, '%Y-%m-%d') AS day, digit, n_events,
           ROUND(share, 6) AS share, ROUND(benford, 6) AS benford,
           ROUND(share - benford, 6) AS delta
         FROM w""",
    "st27_stream_chart_pipeline" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(COUNT(*) AS DOUBLE) AS c
           FROM events GROUP BY 1, 2),
         fin AS (
           SELECT daily.* FROM daily
           WHERE d + INTERVAL 1 DAY <=
             (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
              FROM events)),
         idx AS (
           SELECT fin.*, row_number() OVER
             (PARTITION BY event_type ORDER BY d) AS rn
           FROM fin),
         rec AS (
           SELECT i.event_type, i.rn, i.d, i.c,
             i.c AS ew, CAST(0.0 AS DOUBLE) AS res
           FROM idx i WHERE i.rn = 1
           UNION ALL
           SELECT i.event_type, i.rn, i.d, i.c,
             0.25 * i.c + 0.75 * r.ew,
             i.c - r.ew
           FROM rec r JOIN idx i
             ON i.event_type = r.event_type AND i.rn = r.rn + 1)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(c AS BIGINT) AS n_events,
           ROUND(ew, 6) AS ewma,
           ROUND(res, 6) AS resid
         FROM rec""",
    // q61's Holt recursion over watermark-closed days only (st27's
    // cutoff convention); day 1 of the finalized series seeds the
    // level and is not emitted
    "st28_stream_holt_pipeline" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(COUNT(*) AS DOUBLE) AS c
           FROM events GROUP BY 1, 2),
         fin AS (
           SELECT daily.* FROM daily
           WHERE d + INTERVAL 1 DAY <=
             (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
              FROM events)),
         idx AS (
           SELECT fin.*, row_number() OVER
             (PARTITION BY event_type ORDER BY d) AS rn
           FROM fin),
         rec AS (
           SELECT i.event_type, i.rn, i.d, i.c,
             i.c AS lv, CAST(0.0 AS DOUBLE) AS tr,
             CAST(NULL AS DOUBLE) AS fc, true AS fst
           FROM idx i WHERE i.rn = 1
           UNION ALL
           SELECT i.event_type, i.rn, i.d, i.c,
             CASE WHEN r.fst THEN 0.5 * i.c + 0.5 * r.lv
                  ELSE 0.5 * i.c + 0.5 * (r.lv + r.tr) END,
             CASE WHEN r.fst THEN (0.5 * i.c + 0.5 * r.lv) - r.lv
                  ELSE 0.25 * ((0.5 * i.c + 0.5 * (r.lv + r.tr)) - r.lv)
                       + 0.75 * r.tr END,
             r.lv + r.tr,
             false
           FROM rec r JOIN idx i
             ON i.event_type = r.event_type AND i.rn = r.rn + 1)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(c AS BIGINT) AS n_events,
           ROUND(lv, 6) AS level,
           ROUND(tr, 6) AS trend,
           ROUND(fc, 6) AS forecast,
           ROUND(c - fc, 6) AS forecast_err
         FROM rec WHERE rn >= 2""",
    "st26_stream_holt" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(COUNT(*) AS DOUBLE) AS c
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT daily.*, row_number() OVER
             (PARTITION BY event_type ORDER BY d) AS rn
           FROM daily),
         maxrn AS (SELECT event_type, MAX(rn) AS mx FROM idx GROUP BY 1),
         rec AS (
           SELECT i.event_type, i.rn, i.d, i.c,
             i.c AS lv, CAST(0.0 AS DOUBLE) AS tr,
             CAST(NULL AS DOUBLE) AS fc, true AS fst
           FROM idx i WHERE i.rn = 1
           UNION ALL
           SELECT i.event_type, i.rn, i.d, i.c,
             CASE WHEN r.fst THEN 0.5 * i.c + 0.5 * r.lv
                  ELSE 0.5 * i.c + 0.5 * (r.lv + r.tr) END,
             CASE WHEN r.fst THEN (0.5 * i.c + 0.5 * r.lv) - r.lv
                  ELSE 0.25 * ((0.5 * i.c + 0.5 * (r.lv + r.tr)) - r.lv)
                       + 0.75 * r.tr END,
             r.lv + r.tr,
             false
           FROM rec r JOIN idx i
             ON i.event_type = r.event_type AND i.rn = r.rn + 1)
         SELECT rec.event_type, strftime(rec.d, '%Y-%m-%d') AS day,
           CAST(rec.c AS BIGINT) AS n_events,
           ROUND(rec.lv, 6) AS level,
           ROUND(rec.tr, 6) AS trend,
           ROUND(rec.fc, 6) AS forecast,
           ROUND(rec.c - rec.fc, 6) AS forecast_err
         FROM rec JOIN maxrn ON rec.event_type = maxrn.event_type
         WHERE rec.rn >= 2 AND rec.rn < maxrn.mx""",
    "st25_stream_ewma" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             CAST(COUNT(*) AS DOUBLE) AS c
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT daily.*, row_number() OVER
             (PARTITION BY event_type ORDER BY d) AS rn
           FROM daily),
         maxrn AS (SELECT event_type, MAX(rn) AS mx FROM idx GROUP BY 1),
         rec AS (
           SELECT i.event_type, i.rn, i.d, i.c,
             i.c AS ew, CAST(0.0 AS DOUBLE) AS res
           FROM idx i WHERE i.rn = 1
           UNION ALL
           SELECT i.event_type, i.rn, i.d, i.c,
             0.25 * i.c + 0.75 * r.ew,
             i.c - r.ew
           FROM rec r JOIN idx i
             ON i.event_type = r.event_type AND i.rn = r.rn + 1)
         SELECT rec.event_type, strftime(rec.d, '%Y-%m-%d') AS day,
           CAST(rec.c AS BIGINT) AS n_events,
           ROUND(rec.ew, 6) AS ewma,
           ROUND(rec.res, 6) AS resid
         FROM rec JOIN maxrn ON rec.event_type = maxrn.event_type
         WHERE rec.rn < maxrn.mx""",
    "st17_fmgws_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR (epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP))) > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         sessions AS (
           SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
           FROM flagged)
         SELECT user_id,
           strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM sessions GROUP BY user_id, sess_idx""",
    // st2's sessions keyed by (user, session start) instead of the
    // running index — session_window carries no per-user ordinal
    "st4_session_window_stream" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR (epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP))) > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         sessions AS (
           SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
           FROM flagged)
         SELECT user_id,
           strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM sessions GROUP BY user_id, sess_idx""",
    // streaming dedup on (user, type) converges to the batch distinct
    "st5_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
         FROM events GROUP BY event_type""",
    // sliding windows = union of the two 15-minute-offset tumbling
    // families: an event at t belongs to the windows starting at
    // floor15(t) and floor15(t) - 15min
    "st8_sliding_window_stream" ->
      """WITH e AS (
           SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
         w AS (
           SELECT time_bucket(INTERVAL '15 minutes', ts)
                    - o.o * INTERVAL '15 minutes' AS wstart,
             event_type, value
           FROM e CROSS JOIN (SELECT unnest([0, 1]) AS o) o)
         SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM w GROUP BY 1, 2""",
    // the bounded stream's enrichment join converges to the batch join
    "st6_stream_static_join" ->
      """SELECT (CASE user_id % 4 WHEN 0 THEN 'control' WHEN 1 THEN 'variant_a'
                 WHEN 2 THEN 'variant_b' ELSE 'holdout' END) AS cohort,
           event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM events GROUP BY 1, 2""",
    // the bounded stream-stream join converges to the batch interval join
    "st7_stream_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND CAST(p.ts AS TIMESTAMP) > CAST(c.ts AS TIMESTAMP)
          AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE""",
    // the left-outer contract INCLUDING the watermark cutoff: each
    // withWatermark node tracks ITS OWN column, the join's global
    // watermark is the MIN of the two, and an unmatched click emits
    // its null row iff the global watermark strictly passed the
    // click's 30-minute match window (state-eviction semantics,
    // empirically pinned at both gate SFs). Clicks whose window the
    // final watermark has not passed stay in state and must NOT
    // appear.
    "st24_stream_left_join" ->
      """WITH c AS (
           SELECT user_id, event_id AS click_id,
             CAST(ts AS TIMESTAMP) AS cts
           FROM events WHERE event_type = 'click'),
         p AS (
           SELECT user_id, event_id AS purchase_id,
             CAST(ts AS TIMESTAMP) AS pts
           FROM events WHERE event_type = 'purchase'),
         wm AS (
           SELECT LEAST((SELECT MAX(cts) FROM c), (SELECT MAX(pts) FROM p))
             - INTERVAL 1 HOUR AS w),
         matched AS (
           SELECT c.user_id, c.click_id, p.purchase_id
           FROM c JOIN p ON c.user_id = p.user_id
             AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE),
         unmatched AS (
           SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id
           FROM c CROSS JOIN wm
           WHERE NOT EXISTS (
               SELECT 1 FROM p WHERE p.user_id = c.user_id
                 AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE)
             AND c.cts + INTERVAL 30 MINUTE < w)
         SELECT * FROM matched UNION ALL SELECT * FROM unmatched"""
  )
}
