package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.ops.Journey.decayedScores]]: a per-user
  * exponentially-decayed engagement score maintained incrementally.
  *
  * The batch form anchors decay at the corpus max timestamp; a stream has
  * no final timestamp, so the streaming form keeps the score anchored at
  * each user's LATEST event: on every arrival the stored score first decays
  * by the elapsed whole days (one integer shift per day — the same exact
  * power-of-two scaling as the batch operator, applied to the micro-unit
  * long), then the event's value lands at full weight. A batch replay in
  * event order therefore reproduces the stream state exactly — the
  * determinism contract the spec asserts.
  *
  * State per user: 3 longs. TTL evicts users idle past the horizon where
  * their score would have decayed to nothing anyway (maxAgeDays halvings ≈
  * a 2^-maxAgeDays factor), which is what keeps the global-window state
  * bounded on an unbounded key space.
  */
object DecayedScores {

  final case class DecayState(anchorMs: Long, scoreMicro: Long, events: Long)
  final case class UserDecay(user_id: Long, score_micro: Long, n_events: Long)

  /** Events as (user_id, ts_ms, value_micro). Out-of-order arrivals within
    * a micro-batch are sorted by (ts_ms); an arrival older than the stored
    * anchor contributes at its own decayed weight (no rewind — the
    * documented approximation for late data, exact for in-order streams).
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def userDecayedScores(
      events: Dataset[(Long, Long, Long)],
      maxAgeDays: Int = 30,
      ttlDays: Int = 40
  ): Dataset[UserDecay] = {
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    events
      .groupByKey(_._1)
      .mapGroupsWithState[DecayState, UserDecay](GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[DecayState]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            UserDecay(user, last.scoreMicro, last.events)
          } else {
            var st = state.getOption.getOrElse(DecayState(Long.MinValue, 0L, 0L))
            rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, valueMicro) =>
              st =
                if (st.anchorMs == Long.MinValue) DecayState(ts, valueMicro, 1L)
                else if (ts >= st.anchorMs) {
                  val days = math.min((ts - st.anchorMs) / dayMs, maxAgeDays.toLong).toInt
                  DecayState(ts, (st.scoreMicro >> days) + valueMicro, st.events + 1L)
                } else {
                  // late event: lands at its own decayed weight vs the anchor
                  val days = math.min((st.anchorMs - ts) / dayMs, maxAgeDays.toLong).toInt
                  DecayState(st.anchorMs, st.scoreMicro + (valueMicro >> days), st.events + 1L)
                }
            }
            state.update(st)
            state.setTimeoutDuration(s"${ttlDays * 24} hours")
            UserDecay(user, st.scoreMicro, st.events)
          }
      }
  }

  /** Output mode required by [[userDecayedScores]]. */
  val RequiredOutputMode: OutputMode = OutputMode.Update()

  /** In-order batch replay of the same recurrence — the reference the spec
    * compares stream state against.
    */
  def replay(events: Seq[(Long, Long, Long)], maxAgeDays: Int = 30): Map[Long, (Long, Long)] = {
    val dayMs = 86400000L
    events
      .groupBy(_._1)
      .map { case (u, es) =>
        var anchor = Long.MinValue; var score = 0L; var n = 0L
        es.sortBy(r => (r._2, r._3)).foreach { case (_, ts, v) =>
          if (anchor == Long.MinValue) { anchor = ts; score = v; n = 1L }
          else if (ts >= anchor) {
            val days = math.min((ts - anchor) / dayMs, maxAgeDays.toLong).toInt
            score = (score >> days) + v; anchor = ts; n += 1L
          } else {
            val days = math.min((anchor - ts) / dayMs, maxAgeDays.toLong).toInt
            score = score + (v >> days); n += 1L
          }
        }
        u -> ((score, n))
      }
  }
}
