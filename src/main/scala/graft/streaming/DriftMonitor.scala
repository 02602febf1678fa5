package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming distribution-drift monitor: per-window token-count state over
  * a text stream, feeding the SAME exact-integer PSI as the batch monitor.
  *
  * Division of labor (the mergeable-state discipline): the STREAM maintains
  * only (window, token) counts — a windowed aggregation whose per-window
  * state is bounded by the vocabulary and whose watermark finalizes and
  * evicts windows; counts are the mergeable state. PSI is a PURE FUNCTION
  * of finalized counts ([[graft.ops.Drift.psiFromCounts]] with the window
  * as the partition key), run batch-side per finalized window (foreachBatch
  * or a downstream job) — so the drift score needs no custom streaming
  * state at all, and the stream side is one standard watermarked agg that
  * scales like any windowed count.
  */
object DriftMonitor {

  /** Watermarked per-window token counts of a (ts, text) stream — append
    * mode emits each window's counts exactly once, after the watermark
    * passes its end.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def windowedTokenCounts(
      stream: DataFrame,
      tsCol: String = "event_time",
      textCol: String = "text",
      windowDuration: String = "10 minutes",
      watermarkDelay: String = "5 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .select(
        window(col(tsCol), windowDuration).as("win"),
        explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("tok")
      )
      .groupBy(col("win"), col("tok"))
      .agg(count(lit(1)).as("c_st"))

  /** PSI of each finalized window against the pooled corpus of all the
    * windows in `counts` — batch post-processing of the stream's output
    * (window start millis become the partition key).
    */
  def windowPsi(counts: DataFrame): DataFrame =
    graft.ops.Drift
      .psiFromCounts(
        counts
          .select(unix_millis(col("win.start")).as("src"), col("tok"), col("c_st"))
          // cut the lineage: psiFromCounts references the counts frame from
          // several aggregations, which a streaming-sink view cannot serve
          // (conflicting watermark attribute references); the frame is
          // sketch-sized (windows × vocab)
          .localCheckpoint(true))
      .withColumnRenamed("src", "window_start_ms")
}
