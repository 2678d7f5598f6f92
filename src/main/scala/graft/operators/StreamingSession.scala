package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming sessionization with EVENT-TIME TIMEOUT emission
  * (`flatMapGroupsWithState` + `GroupStateTimeout.EventTimeTimeout`):
  * sessions close two ways — inline, when a later event arrives past
  * the gap, and by TIMER, when the watermark passes the open session's
  * gap deadline with no further event ever arriving. The timer path is
  * what `session_window` cannot express per-group custom state for, and
  * what NoTimeout stateful operators never exercise: without it, each
  * user's final session would sit in the state store forever.
  *
  * State per user is ONE open session (start, last, n) — O(1) per key
  * regardless of history; the per-key per-batch sort is bounded by one
  * user's events in one micro-batch.
  */
object StreamingSession {
  /** (user, session start µs, session last-event µs, event count) */
  case class Session(user_id: Long, sess_start: Long, sess_last: Long, n_events: Long)
  /** Open-session state (public: the product encoder's generated code
    * must construct it). */
  case class Open(start: Long, last: Long, n: Long)

  private val GAP_US = 10L * 60 * 1000000L

  def sessionize(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .withWatermark("ts", "30 minutes")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Open, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state) =>
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          if (state.hasTimedOut) {
            // the watermark passed the open session's deadline: emit it
            state.getOption.foreach(s => out += Session(user, s.start, s.last, s.n))
            state.remove()
          } else {
            // rows of a group arrive unordered within the batch
            val evs = rows.map(_._3).toArray.sorted
            var cur = state.getOption
            evs.foreach { us =>
              cur match {
                case Some(s) if us - s.last < GAP_US =>
                  cur = Some(Open(s.start, us, s.n + 1))
                case Some(s) => // gap reached: close inline, open a new one
                  out += Session(user, s.start, s.last, s.n)
                  cur = Some(Open(us, us, 1))
                case None => cur = Some(Open(us, us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the deadline must sit past the current watermark or the
              // runtime rejects it; a clamped timer only delays emission
              // to a later no-data batch, and the digest's margin filter
              // absorbs the boundary either way
              state.setTimeoutTimestamp(
                math.max(s.last / 1000L + GAP_US / 1000L,
                  state.getCurrentWatermarkMs() + 60000L))
            }
          }
          out.iterator
      }
  }
}
