package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming conversion funnel — the unbounded twin of
  * [[graft.ops.Funnel]]: per-user stage progression tracked as custom
  * state, a progress row emitted the moment a user advances a stage.
  *
  * Semantics: stage k is taken by the first qualifying event SEEN (type
  * matches, event-time strictly after stage k−1's time and within its
  * gap); events are sorted by event-time inside each micro-batch, so
  * intra-batch disorder is absorbed, while an event arriving in a LATER
  * batch than a successor it should have preceded does not rewrite
  * history (the batch operator's retroactive-min semantics would need
  * full event retention until the watermark — the documented trade).
  *
  * State is one fixed-size array of stage times per in-flight user —
  * O(stages) bytes, partitioned by user across executors. COMPLETED
  * funnels evict their state immediately (a returning user starts a
  * fresh pass); abandoned users evict after `ttlMinutes` idle. Both
  * bounds matter: at 100 TB/day of events the in-flight user set, not
  * the event volume, is the state footprint.
  */
object StreamingFunnel {

  final case class FunnelEvent(user: Long, event_type: String, ts_ms: Long)
  final case class FunnelProgress(user: Long, stage: Int, ts_ms: Long)
  final case class StageState(times: Seq[Long])

  /** Run with `outputMode("update")`. `rest` mirrors the batch operator:
    * (event type, max gap ms from the previous stage).
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def stageProgress(
      events: Dataset[FunnelEvent],
      first: String,
      rest: Seq[(String, Long)],
      ttlMinutes: Int = 60
  ): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    val nStages = rest.size + 1
    events
      .groupByKey(_.user)
      .flatMapGroupsWithState[StageState, FunnelProgress](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[StageState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val times = state.getOption
              .map(_.times.toArray)
              .getOrElse(Array.fill(nStages)(-1L))
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelProgress]
            rows.toSeq.sortBy(e => (e.ts_ms, e.event_type)).foreach { e =>
              val k = // first unset stage this event type could fill
                if (e.event_type == first && times(0) < 0) 0
                else rest.indexWhere(_._1 == e.event_type) + 1 match {
                  case 0 => -1
                  case i if i < nStages && times(i) < 0 && times(i - 1) >= 0 &&
                      e.ts_ms > times(i - 1) && e.ts_ms - times(i - 1) <= rest(i - 1)._2 => i
                  case _ => -1
                }
              if (k >= 0) {
                times(k) = e.ts_ms
                out += FunnelProgress(user, k + 1, e.ts_ms)
              }
            }
            if (times(nStages - 1) >= 0) {
              state.remove() // funnel complete: drop state immediately
            } else if (times.exists(_ >= 0)) {
              state.update(StageState(times.toSeq))
              state.setTimeoutDuration(s"$ttlMinutes minutes")
            } // never entered the funnel: hold no state at all
            out.iterator
          }
      }
  }
}
