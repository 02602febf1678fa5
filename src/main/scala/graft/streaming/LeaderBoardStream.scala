package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming leaderboard — Spark form of the reference's LeaderBoard pipeline
  * (reference `LeaderBoard.java:136-221`).
  *
  * Beam's per-pane trigger machinery maps onto Structured Streaming's update
  * output mode (SURVEY §2.4 W2-W5):
  *   - accumulating panes (`LeaderBoard.java:198,217`) == update mode
  *     re-emitting the running per-key total each micro-batch;
  *   - allowed lateness 120 min (`LeaderBoard.java:197`) == the watermark
  *     delay, which bounds state retention AND the late-drop horizon;
  *   - early/late firing cadences collapse to the query trigger interval
  *     (documented approximation, SURVEY §7.4).
  *
  * Both aggregations are single-shuffle stateful plans: partial aggregation
  * before the exchange, StateStore-backed running totals after — state is
  * per-(key[,window]) and partitioned by the grouping key, with no hot
  * driver path. The number of state partitions is fixed when a query first
  * starts: [[graft.apps.LeaderBoardApp.start]] starts both queries at
  * [[StatePartitions.Count]] ([[StatePartitions.withStatePartitions]]), and
  * a restart from an existing checkpoint keeps the count recorded in its
  * offset log. Every micro-batch commits one store per partition, so the
  * count should grow with the state, not with the cores (README,
  * "Streaming state partitions").
  */
object LeaderBoardStream {

  /** Windowed per-team totals with watermark-bounded lateness
    * (`LeaderBoard.java:177-201`). Run with `outputMode("update")`.
    * Input must carry `team`, `score`, `event_time` columns.
    */
  def calculateTeamScores(
      events: DataFrame,
      teamWindowMinutes: Int = 60,
      allowedLatenessMinutes: Int = 120
  ): DataFrame =
    events
      .withWatermark("event_time", s"$allowedLatenessMinutes minutes")
      .groupBy(
        window(col("event_time"), s"$teamWindowMinutes minutes").as("window"),
        col("team")
      )
      .agg(sum(col("score").cast("long")).as("total_score"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("team"),
        col("total_score")
      )

  /** All-time running per-user totals — the global-window branch
    * (`LeaderBoard.java:202-221`). Unwatermarked: in a global window nothing
    * is ever late, arbitrarily old data still updates the total, and state
    * grows with user cardinality exactly as in Beam. Run with
    * `outputMode("update")`.
    */
  def calculateUserScores(events: DataFrame): DataFrame =
    events
      .groupBy(col("user"))
      .agg(sum(col("score").cast("long")).as("total_score"))

  /** Label each output row EARLY / ON_TIME / LATE relative to the event-time
    * watermark (reference pane timing, `LeaderBoard.java:101-104`). Apply
    * inside `foreachBatch`: `prevWatermarkMs` is the watermark when the
    * previous batch ran, `watermarkMs` the current one (both from
    * `StreamingQueryProgress.eventTime`). A window still open at the current
    * watermark is speculative (EARLY); a window the watermark crossed during
    * this batch fires ON_TIME; updates to a window closed before this batch
    * are LATE corrections.
    */
  def withPaneTiming(batch: DataFrame, prevWatermarkMs: Long, watermarkMs: Long): DataFrame = {
    val end = unix_millis(col("window_end"))
    batch.withColumn(
      "timing",
      when(end > watermarkMs, lit("EARLY"))
        .when(end > prevWatermarkMs, lit("ON_TIME"))
        .otherwise(lit("LATE"))
    )
  }
}
