package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.Scoring

/** Streaming session windows: the same gap-based `session_window`
  * aggregation as the batch form ([[graft.ops.Scoring.sessionScores]] —
  * one shared implementation, the batch/streaming unification Spark's
  * API gives for free), plus the watermark that lets the engine FINALIZE
  * sessions: a session closes once the watermark passes its end + gap, its
  * state is evicted, and append mode emits exactly one row per session.
  * Session state is per (key, open session) in the StateStore — bounded by
  * the watermark horizon, merge-on-late-arrival handled by the engine.
  */
object StreamingSessions {

  /** Per-key gap-session totals over the watermarked stream.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def sessionScores(
      stream: DataFrame,
      keyCol: String,
      gapMinutes: Int,
      watermarkDelay: String,
      eventTimeCol: String = "event_time"
  ): DataFrame =
    Scoring.sessionScores(stream.withWatermark(eventTimeCol, watermarkDelay), keyCol, gapMinutes)
}
