package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Event-time streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY.md §2.7); its closest
  * analog is the incremental batched `/add_documents` append
  * (`/root/reference/mock_vector_db_api.py:150-228`). These operators are
  * the Structured-Streaming-native generalization: every transform here is
  * written against a plain DataFrame so the SAME code runs in batch mode
  * (driver oracle checks) and under `readStream` (incremental execution
  * with watermark-bounded state) — the canonical Spark pattern.
  *
  * Scale notes: windowed aggregations shuffle on (window, key) — state is
  * partitioned across executors by key hash, and the watermark bounds
  * state size, so throughput scales horizontally; sessionization with
  * `session_window` uses the dedicated session-merge state store ops.
  */
object EventStreams {

  /** Tumbling event-time window aggregate (count + sum per event_type).
    * On a stream: append-mode-safe once a watermark is set.
    */
  def tumblingAgg(events: DataFrame, windowDur: String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Session windows per user: events within `gap` of each other merge
    * into one session (built-in `session_window` — state-store-backed
    * session merging when run as a stream).
    */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Watermarked streaming variant of [[tumblingAgg]] — use on a
    * `readStream` DataFrame with append output mode.
    */
  def tumblingAggStream(events: DataFrame, watermarkDelay: String = "10 minutes",
                        windowDur: String = "10 minutes"): DataFrame =
    tumblingAgg(events.withWatermark("ts", watermarkDelay), windowDur)

  /** Interval join: every click of `clicks(user_id, click_id, click_ts)`
    * paired with the same user's views from `views(user_id, view_id,
    * view_ts)` where `click_ts − lookbackSec ≤ view_ts ≤ click_ts` — the
    * attribution-join shape ("which views preceded this click").
    *
    * Written against plain DataFrames so the same plan runs in batch and,
    * via [[intervalJoinStream]], as a stream-stream join. The event-time
    * bound on BOTH sides is what makes the streaming form feasible: with
    * watermarks it gives the state store an eviction horizon (a buffered
    * view older than watermark − lookback can never match a future
    * click), so state stays bounded no matter how long the streams run.
    */
  def intervalJoin(clicks: DataFrame, views: DataFrame,
                   lookbackSec: Long): DataFrame = {
    require(lookbackSec > 0, s"lookbackSec must be > 0, got $lookbackSec")
    val v = views.withColumnRenamed("user_id", "__v_user_id")
    clicks.join(v,
        col("user_id") === col("__v_user_id") &&
          col("view_ts") >= col("click_ts") -
            expr(s"INTERVAL $lookbackSec SECONDS") &&
          col("view_ts") <= col("click_ts"))
      .drop("__v_user_id")
  }

  /** Stream-stream form of [[intervalJoin]]: both sides watermarked, so
    * the runtime evicts join state past watermark − lookback and the
    * append-mode output is final.
    */
  def intervalJoinStream(clicks: DataFrame, views: DataFrame,
                         lookbackSec: Long,
                         watermarkDelay: String = "10 minutes"): DataFrame =
    intervalJoin(
      clicks.withWatermark("click_ts", watermarkDelay),
      views.withWatermark("view_ts", watermarkDelay),
      lookbackSec)

  // =========================================================================
  // Custom stateful sessionization (flatMapGroupsWithState) — the
  // "custom state" extension point the built-in session_window can't
  // express (e.g. emitting one record per CLOSED session only).
  // =========================================================================

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  case class SessionState(start: Long, end: Long, n: Long, total: Double)

  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long,
                           total_value: Double)

  case class FunnelEv(user_id: Long, ts: java.sql.Timestamp, event_type: String)

  /** Per-user funnel progress: epoch-millis of each reached stage, −1 =
    * not reached. O(1) per user — the whole funnel state is three longs.
    */
  case class FunnelState(tView: Long, tClick: Long, tPurchase: Long)

  case class FunnelTransition(user_id: Long, stage: String,
                              ts: java.sql.Timestamp)

  /** Streaming conversion funnel (view → click-after-view →
    * purchase-after-click), one transition record emitted the moment a
    * user first reaches each stage — the real-time form of the batch
    * funnel query (SparkEntry q79). State is O(users) × 3 longs,
    * key-partitioned across executors like any keyed state.
    *
    * Same stage semantics as the batch query when events arrive in
    * event-time order: the earliest view, the earliest click strictly
    * after it, the earliest purchase strictly after that. Within a batch
    * events are folded in event-time order; an event arriving in a LATER
    * batch with an EARLIER timestamp cannot retract an already-emitted
    * transition (append mode) — the standard streaming approximation,
    * bounded by the source's watermark delay.
    */
  def funnel(events: Dataset[FunnelEv]): Dataset[FunnelTransition] = {
    implicit val evEnc = Encoders.product[FunnelEv]
    implicit val outEnc = Encoders.product[FunnelTransition]
    implicit val stEnc = Encoders.product[FunnelState]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[FunnelState, FunnelTransition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = List.newBuilder[FunnelTransition]
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "view" if st.tView < 0 =>
                st = st.copy(tView = t)
                out += FunnelTransition(user, "1_view", e.ts)
              case "click" if st.tView >= 0 && st.tClick < 0 && t > st.tView =>
                st = st.copy(tClick = t)
                out += FunnelTransition(user, "2_click_after_view", e.ts)
              case "purchase" if st.tClick >= 0 && st.tPurchase < 0 && t > st.tClick =>
                st = st.copy(tPurchase = t)
                out += FunnelTransition(user, "3_purchase_after_click", e.ts)
              case _ => // stage already reached, or prerequisite missing
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Emit one record per closed session (closed = no event for `gapMs`,
    * detected via event-time timeout on the watermark). State per user is
    * a single running session — O(users) state, watermark-bounded.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long): Dataset[ClosedSession] = {
    implicit val evEnc = Encoders.product[Ev]
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val stEnc = Encoders.product[SessionState]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user,
              new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end),
              s.n, s.total))
          } else {
            // interval-merge the open session with ALL batch events, in
            // time order — a per-event fold against the newest session
            // would mis-handle a late-but-in-watermark event that
            // belongs BEFORE the open session (it must become its own
            // earlier session, or merge with its own late neighbors,
            // never evict the newer open session). Merge iff strictly
            // within the gap — same boundary rule as session_window
            // (and the q30 oracle): an event exactly gapMs away starts
            // a new session.
            val incoming = evs.toSeq.sortBy(_.ts.getTime)
              .map(e => SessionState(e.ts.getTime, e.ts.getTime, 1, e.value))
            val merged = (state.getOption.toList ++ incoming)
              .sortBy(_.start)
              .foldLeft(List.empty[SessionState]) { (acc, s) =>
                acc match {
                  case h :: t if s.start - h.end < gapMs =>
                    SessionState(h.start, math.max(h.end, s.end),
                      h.n + s.n, h.total + s.total) :: t
                  case _ => s :: acc
                }
              }
              .reverse
            // everything except the newest session is separated from it
            // by >= gap and therefore closed; the newest stays in state.
            // (An event arriving in a LATER batch that belongs to an
            // already-emitted session starts a fresh session — append
            // mode cannot retract; the window of that approximation is
            // bounded by the watermark delay.)
            val closed = merged.dropRight(1).map(s =>
              ClosedSession(user, new java.sql.Timestamp(s.start),
                new java.sql.Timestamp(s.end), s.n, s.total))
            merged.lastOption.foreach { s =>
              state.update(s)
              // the timeout must not be at/behind the current watermark
              // (Spark rejects it and fails the query); clamp forward —
              // the session then closes on the next watermark advance
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }
}
