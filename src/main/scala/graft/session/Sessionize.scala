package graft.session

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.schema.TelemetryModel.{SessionDoc, StatusEvent}

/** Gap-based session consolidation (SURVEY §2.7 ST1).
  *
  * Reference semantics (`/root/reference/kafkaConsumer.js:238-350`): per
  * `device_uuid`, each status "touch" extends the active session
  * (`end_timestamp := ts`) and refreshes a 300 s Redis TTL
  * (`kafkaConsumer.js:43,312,335`); a session closes when no touch arrives
  * for 300 s (TTL lapse) or an explicit action="clear" arrives
  * (`kafkaConsumer.js:340-347`).
  *
  * Two implementations (SURVEY §7.4):
  *  - [[bySessionWindow]]: built-in `session_window` — exact TTL-lapse
  *    semantics, works identically in batch and streaming, and is the
  *    scale path: Spark plans it as a single shuffle on the group keys
  *    with state-store-backed merging in streaming.
  *  - [[stateful]]: `flatMapGroupsWithState` — adds the explicit-`clear`
  *    path that gap windows cannot express (documented intent,
  *    `/root/reference/README.md:657-668`).
  */
object Sessionize {
  val GapSeconds = 300 // STATUS_TTL_SECONDS, kafkaConsumer.js:43

  /** Batch/streaming sessionization over any DF with key/timestamp cols.
    * `tsCol` must be TimestampType. Emits one row per closed session:
    * (key, session start/end, touch count).
    */
  def bySessionWindow(df: DataFrame, keyCol: String, tsCol: String,
                      gapSeconds: Int = GapSeconds): DataFrame = {
    df.groupBy(
        col(keyCol),
        session_window(col(tsCol), s"$gapSeconds seconds"))
      .agg(
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"),
        count(lit(1)).as("n_touches"))
      .drop("session_window")
  }

  /** ST1(b): stateful sessionizer with explicit-clear parity.
    *
    * State per device: open session (start/end/count). Event-time timeout
    * (watermark-driven) closes a session 300 s after its last touch —
    * mirroring the Redis `EX 300` TTL; an explicit `action="clear"`
    * closes it immediately (`kafkaConsumer.js:340-347`).
    *
    * Works on a `Dataset[StatusEvent]` in streaming with
    * `OutputMode.Append` and a watermark on the event-time column, and in
    * batch (where every group is final — all sessions emitted).
    */
  def stateful(events: Dataset[StatusEvent],
               gapSeconds: Int = GapSeconds): Dataset[SessionDoc] = {
    import events.sparkSession.implicits._
    events
      .filter(_.status_type == "cable-unplugged") // F8
      .groupByKey(_.device_uuid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFlatMap(gapSeconds))
  }

  /** Open-session state: timestamps in epoch seconds. */
  case class OpenSession(start: Long, end: Long, touches: Long)

  private[session] def sessionFlatMap(gapSeconds: Int)(
      device: String,
      events: Iterator[StatusEvent],
      state: GroupState[OpenSession]): Iterator[SessionDoc] = {

    def doc(s: OpenSession, closedBy: String) =
      SessionDoc(device, "cable-unplugged", s.start, s.end, s.touches, closedBy)

    if (events.isEmpty && state.hasTimedOut) {
      // watermark passed last-touch + gap: TTL lapse
      val out = state.getOption.map(doc(_, "ttl")).toList
      state.remove()
      return out.iterator
    }

    // Event order within a micro-batch is not guaranteed → sort by time.
    // (The reference relies on Kafka per-key ordering, SURVEY §2.7 ST2.)
    val sorted = events.toSeq.sortBy(e => (e.timestamp, e.action))
    val closed = List.newBuilder[SessionDoc]
    var open: Option[OpenSession] = state.getOption

    sorted.foreach { e =>
      e.action match {
        case "clear" =>
          open.foreach(s => closed += doc(s, "clear"))
          open = None
        case _ => // "touch"
          open = open match {
            // <= gap merges, matching session_window's touching-window
            // semantics (a touch at exactly start+gap extends the session)
            case Some(s) if e.timestamp - s.end <= gapSeconds =>
              Some(s.copy(end = math.max(s.end, e.timestamp),
                          touches = s.touches + 1))
            case Some(s) => // gap already exceeded between batches
              closed += doc(s, "ttl")
              Some(OpenSession(e.timestamp, e.timestamp, 1))
            case None =>
              Some(OpenSession(e.timestamp, e.timestamp, 1))
          }
      }
    }

    open match {
      case Some(s) =>
        state.update(s)
        // Close when watermark passes end + gap (Redis EX refresh on
        // touch). The watermark is global across devices; on Spark ≥ 3.4
        // flatMapGroupsWithState late-filters input below it
        // (SPARK-40925), so end+gap normally lands above the watermark.
        // Clamp one ms past it anyway: an at-or-below timeout timestamp
        // makes Spark throw and kill the query, and restored state /
        // filterless paths can still produce one. Semantically the clamp
        // is "expire at the first opportunity" — what the Redis TTL does
        // for an already-stale session. In BATCH mode the plan has no
        // watermark node (EliminateEventTimeWatermark strips it), so
        // Spark 4's getCurrentWatermarkMs THROWS rather than returning
        // -1 — fall back to -1 there: batch timeouts never fire, the
        // clamp base is irrelevant, and this keeps the documented
        // batch≡stream contract actually runnable in batch
        // (PipelineRestartSpec's batch recompute runs this operator in
        // batch mode and compares it with the restarted stream's store).
        val target = (s.end + gapSeconds) * 1000L
        val wmMs = try state.getCurrentWatermarkMs()
                   catch { case _: UnsupportedOperationException => -1L }
        state.setTimeoutTimestamp(math.max(target, wmMs + 1L))
      case None =>
        if (state.exists) state.remove()
    }
    closed.result().iterator
  }

  /** DuckDB mirror of [[bySessionWindow]] over `events(user_id, ts)`:
    * the lag/flag/cumsum assignment, `numbered(user_id, ts, session_id)`
    * (a gap over [[GapSeconds]] opens a session, one of exactly
    * [[GapSeconds]] extends it, as `session_window` does). */
  val duckdbSessionCtes: String =
    s"""flagged AS (
       |  SELECT user_id, ts,
       |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
       |              > INTERVAL $GapSeconds SECOND
       |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events),
       |numbered AS (
       |  SELECT user_id, ts,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
       |                           ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM flagged)""".stripMargin
}
