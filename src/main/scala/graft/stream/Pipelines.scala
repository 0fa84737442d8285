package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Event-time streaming pipelines (SURVEY.md §2b streaming row + §7.2
  * step 5). Each takes an unbounded DataFrame (from MemoryStream, rate,
  * file, or Kafka source) and returns the transformed unbounded frame;
  * the caller picks sink + trigger. State lives in the state store, never
  * on the driver (100 TB posture, SURVEY.md §4.3).
  */
object Pipelines {

  /** Tumbling event-time window counts with late-data drop.
    * Expects columns (ts: timestamp, event_type: string). */
  def tumblingCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"))

  /** Built-in session windows: events within `gap` of each other merge
    * into one session per user. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup on a key within the watermark horizon — the
    * streaming twin of q_dedup_exact. State size is bounded by the
    * watermark, so this holds at unbounded input. */
  def dedupKeyed(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  // ------------------------------------------------------- custom state

  final case class SessionInput(user_id: Long, ts: Timestamp)
  final case class SessionState(start: Long, end: Long, n: Long)
  /** All of a user's open sessions, oldest-last (as the merge emits). */
  final case class SessionsState(open: List[SessionState])
  final case class SessionOut(
      user_id: Long, sess_start: Long, sess_end: Long, n_events: Long)

  /** Custom-state sessionization through Spark 4's `transformWithState`
    * — the shape to reach for when session semantics outgrow
    * `session_window` (e.g. per-session running features), with typed
    * state handles and event-time timers. `sessionCounts` is the
    * built-in route. Requires the RocksDB state store provider
    * (transformWithState's backing store; rocksdbjni ships with Spark).
    *
    * State holds ALL of a user's open sessions, and a session emits only
    * once the WATERMARK passes its close (end + gap) — the point at
    * which no admissible event can extend or merge it. Emitting on an
    * in-batch gap instead (the single-open-session shortcut) fragments
    * out-of-order data: an early event would emit immediately as its
    * own session, and a later event within its gap — still above the
    * watermark, so legal — could no longer merge with it. */
  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, SessionInput, SessionOut] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[SessionsState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessionsState]("open",
        Encoders.product[SessionsState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SessionInput],
        tv: TimerValues): Iterator[SessionOut] =
      fold(user, rows.toList, tv.getCurrentWatermarkInMs(), None)

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      fold(user, Nil, tv.getCurrentWatermarkInMs(), Some(info.getExpiryTimeInMs()))

    /** Interval-merge the open sessions WITH the batch's events, sorted
      * by start, bridging any pair within gapMs. Uniform in every
      * arrival order: an event inside / within-gap of an open session
      * extends it (min-start/max-end), one beyond every session's gap
      * opens its own. The expired-timer call is the same fold with zero
      * new events. A session emits once the watermark passes its close;
      * the timer wakes the key when the OLDEST open session's close
      * passes, clamped just above the watermark for late-but-accepted
      * data. */
    private def fold(user: Long, newRows: List[SessionInput],
        wm: Long, fired: Option[Long]): Iterator[SessionOut] = {
      val ivs: List[SessionState] =
        ((if (open.exists()) open.get().open else Nil) ++
          newRows.map(r => { val t = r.ts.getTime; SessionState(t, t, 1L) }))
          .sortBy(v => (v.start, v.end))
      val merged = ivs.foldLeft(List.empty[SessionState]) {
        case (h :: tl, v) if v.start - h.end <= gapMs =>
          SessionState(h.start, math.max(h.end, v.end), h.n + v.n) :: tl
        case (acc, v) => v :: acc
      }
      val (stillOpen, expired) = merged.partition(s => s.end + gapMs > wm)
      // registerTimer ADDS a timer rather than replacing one — drop the
      // stale wake-ups first or an active key accumulates one pending
      // timer per batch and replays a cascade of no-op expirations; the
      // `fired` timer is Spark's to remove
      getHandle.listTimers().map(_.asInstanceOf[Long])
        .filterNot(fired.contains).foreach(getHandle.deleteTimer)
      if (stillOpen.isEmpty) open.clear()
      else {
        open.update(SessionsState(stillOpen))
        getHandle.registerTimer(
          math.max(stillOpen.map(_.end).min + gapMs, wm + 1))
      }
      expired.reverse
        .map(s => SessionOut(user, s.start, s.end, s.n)).iterator
    }
  }

  /** [[SessionProcessor]] keyed by user, under a 2-hour watermark. */
  def sessionsWithState(events: Dataset[SessionInput],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-static enrichment — the stateless streaming shape the
    * stateful probes don't cover: every micro-batch equi-joins a BATCH
    * dimension frame on `key` (no watermark, no state store; Spark
    * re-broadcasts the static side per batch, so a dim refresh between
    * batches is picked up). The canonical "attach the user profile /
    * document metadata to a live stream" step; at cluster scale the
    * static side must be broadcast-sized — for a big dim, pre-bucket
    * both sides instead. Left join: an event without a dim row flows
    * through with nulls rather than silently dropping. */
  def enrichStatic(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      Seq(key), "left")

  /** Stream-stream coincidence join — the streaming twin of the batch
    * theta/range query (and the TDC trigger-matching shape): hits join
    * triggers of the same key within ±`toleranceSec` of event time. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so Spark can evict state on both sides — nothing
    * accumulates unboundedly. Expects (key, ts) on both inputs; hit
    * columns prefixed h_, trigger columns t_.
    * `joinType = "left_outer"` turns the coincidence join into the
    * unmatched-detection shape: a hit with NO trigger in its tolerance
    * window is still emitted (null t_ columns) — but only once the
    * watermark has passed its whole candidate interval, i.e. the state
    * store proves no future trigger can match. That null-padded
    * eviction-time emission is a genuinely different state-store code
    * path from the inner join's match-time output. */
  def coincidence(hits: DataFrame, triggers: DataFrame,
      toleranceSec: Int = 5, watermark: String = "30 seconds",
      joinType: String = "inner"): DataFrame = {
    val h = hits.withWatermark("ts", watermark)
      .select(col("key").as("h_key"), col("ts").as("h_ts"))
    val t = triggers.withWatermark("ts", watermark)
      .select(col("key").as("t_key"), col("ts").as("t_ts"))
    h.join(t,
      expr(s"""h_key = t_key AND
               h_ts BETWEEN t_ts - INTERVAL $toleranceSec SECONDS
                        AND t_ts + INTERVAL $toleranceSec SECONDS"""),
      joinType)
  }

  /** Streaming occupancy histogram over decoded TDC hits: counts per
    * (FPGA, TDC_CHANNEL) per orbit-time window — the per-chamber monitor
    * the reference's notebook user would build by hand. Expects the
    * decoded hit columns plus an `ts` event-time column (see
    * [[graft.time.OrbitTime.orbitTimestamp]]). */
  def occupancy(hits: DataFrame, windowLen: String = "1 second",
      watermark: String = "5 seconds"): DataFrame =
    hits
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("FPGA"), col("TDC_CHANNEL"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("window.start").as("win_start"),
        col("FPGA"), col("TDC_CHANNEL"), col("n_hits"))
}
