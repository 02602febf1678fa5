package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming leaderboard — Spark form of the reference's LeaderBoard pipeline
  * (reference `LeaderBoard.java:136-221`).
  *
  * Team panes ([[teamPanes]]) keep Beam's two event-time bounds apart
  * (`LeaderBoard.java:190-198`), as the Structured Streaming paper's
  * event-time/watermark split allows:
  *   - the watermark is the max event time seen (a 0 s delay) and only
  *     drives the operator's timers: it says when a window is complete;
  *   - the allowed lateness (120 min, `LeaderBoard.java:197`) is enforced
  *     by the operator itself. Spark's late-row filter never applies, since
  *     the operator's input carries the window start, not the watermarked
  *     column.
  * Each (team, window) pane emits its accumulated total
  * (`accumulatingFiredPanes`, `LeaderBoard.java:198`) in every micro-batch
  * that brings it data, labeled EARLY, ON_TIME or LATE
  * (`LeaderBoard.java:101-104`); the early/late firing cadences collapse to
  * the query trigger (SURVEY §7.4).
  *
  * Both branches are single-shuffle stateful plans, state per
  * (team, window) or per user, partitioned by that key. The number of state
  * partitions is fixed when a query first starts:
  * [[graft.apps.LeaderBoardApp.start]] starts both queries at
  * [[StatePartitions.Count]] on RocksDB
  * ([[StatePartitions.withStatePartitions]]), and a restart from an
  * existing checkpoint keeps the count and store recorded in its offset
  * log. Every micro-batch commits one store per partition, so the count
  * should grow with the state, not with the cores (README, "Streaming
  * state partitions").
  */
object LeaderBoardStream {

  /** One emitted team pane; the column order of the `leaderboard_team` table. */
  final case class TeamPane(
      window_start: Timestamp,
      window_end: Timestamp,
      team: String,
      total_score: Long,
      timing: String
  )

  // Not `private`: the state encoder's generated code calls its constructor.
  private[streaming] final case class PaneState(total: Long, onTimeFired: Boolean)

  /** Keyed by (team, window start ms); input rows are (team, window start
    * ms, score). `wm` below is the max event time of earlier batches.
    *   - Data with `wm >= end + lateness` is dropped (Beam's droppable
    *     rule); otherwise the pane's new total is emitted: EARLY while
    *     `wm < end`, then ON_TIME once, then LATE.
    *   - A timer at `end` emits the ON_TIME pane when no data did.
    *   - A timer at `end + lateness` clears the pane.
    */
  private final class TeamPaneProcessor(windowMs: Long, latenessMs: Long)
      extends StatefulProcessor[(String, Long), (String, Long, Long), TeamPane] {

    @transient private var pane: ValueState[PaneState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pane = getHandle.getValueState[PaneState]("pane", Encoders.product[PaneState], TTLConfig.NONE)

    private def emit(key: (String, Long), total: Long, timing: String): Iterator[TeamPane] =
      Iterator.single(TeamPane(new Timestamp(key._2), new Timestamp(key._2 + windowMs), key._1, total, timing))

    override def handleInputRows(
        key: (String, Long),
        rows: Iterator[(String, Long, Long)],
        timerValues: TimerValues
    ): Iterator[TeamPane] = {
      val end = key._2 + windowMs
      val wm = timerValues.getCurrentWatermarkInMs()
      if (wm >= end + latenessMs) return Iterator.empty
      val prev =
        if (pane.exists()) pane.get()
        else {
          if (wm < end) getHandle.registerTimer(end)
          getHandle.registerTimer(end + latenessMs)
          PaneState(0L, onTimeFired = false)
        }
      val total = rows.foldLeft(prev.total)(_ + _._3)
      val timing = if (wm < end) "EARLY" else if (prev.onTimeFired) "LATE" else "ON_TIME"
      pane.update(PaneState(total, prev.onTimeFired || timing == "ON_TIME"))
      emit(key, total, timing)
    }

    override def handleExpiredTimer(
        key: (String, Long),
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo
    ): Iterator[TeamPane] = {
      val end = key._2 + windowMs
      val at = expiredTimerInfo.getExpiryTimeInMs()
      val s = pane.get()
      val out =
        if (at == end && !s.onTimeFired) {
          pane.update(s.copy(onTimeFired = true))
          emit(key, s.total, "ON_TIME")
        } else Iterator.empty
      if (at == end + latenessMs) pane.clear()
      out
    }
  }

  /** Windowed per-team totals with EARLY/ON_TIME/LATE labels
    * (`LeaderBoard.java:177-201`), columns as [[TeamPane]]. Input must carry
    * `team`, `score` and `event_time` columns and no watermark of its own.
    * Run with `outputMode("update")` on the RocksDB state store (started
    * inside [[StatePartitions.withStatePartitions]]).
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def teamPanes(
      events: DataFrame,
      teamWindowMinutes: Int = 60,
      allowedLatenessMinutes: Int = 120
  ): DataFrame = {
    import events.sparkSession.implicits._
    val windowMs = teamWindowMinutes * 60000L
    val ms = unix_millis(col("event_time"))
    events
      .withWatermark("event_time", "0 seconds")
      .select(col("team"), (ms - pmod(ms, lit(windowMs))).as("window_start"), col("score").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(
        new TeamPaneProcessor(windowMs, allowedLatenessMinutes * 60000L),
        TimeMode.EventTime(),
        OutputMode.Update()
      )
      .toDF()
  }

  /** All-time running per-user totals — the global-window branch
    * (`LeaderBoard.java:202-221`). Unwatermarked: in a global window nothing
    * is ever late, arbitrarily old data still updates the total, and state
    * grows with user cardinality exactly as in Beam. Run with
    * `outputMode("update")`.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def calculateUserScores(events: DataFrame): DataFrame =
    events
      .groupBy(col("user"))
      .agg(sum(col("score").cast("long")).as("total_score"))
}
