package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming face of the exact Holt level+trend monitor
  * ([[graft.ops.TimeSeries.holtHourly]]): per event type, level, trend,
  * and the one-step forecast of the hourly rate (α = β = 1/2, 12-hour
  * truncated impulse response, scaled by 2^24 — exact integers),
  * refreshed every micro-batch.
  *
  * Same state discipline as [[StreamingEwma]]: ONE 12-slot count window
  * + the current max hour per key — 13 longs, bounded for the life of
  * the stream. The batch filter at hour h reads only the 12 trailing
  * hourly counts, so each emission is BIT-EQUAL to the batch operator
  * run over the same prefix (spec-pinned exact equality, no tolerance).
  * Events older than the 12-hour horizon are dropped — truncation
  * doubles as the allowed-lateness contract.
  */
object StreamingHolt {

  final case class TypeHolt(
      event_type: String,
      hour: Long,
      cnt: Long,
      level_x2p24: Long,
      trend_x2p24: Long,
      forecast1_x2p24: Long)

  final case class HoltState(maxHour: Long, counts: Seq[Long]) // counts(i) = cnt at maxHour − i

  private val W = graft.ops.TimeSeries.HoltWindow // 12
  private val WL = graft.ops.TimeSeries.holtLevelWeights.toArray
  private val WB = graft.ops.TimeSeries.holtTrendWeights.toArray

  def hourlyHolt(rows: DataFrame): Dataset[TypeHolt] = {
    import rows.sparkSession.implicits._
    rows
      .select(col("event_type").cast("string"), expr("ts_ms DIV 3600000").as("hour"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new HoltProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  class HoltProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Long), TypeHolt] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var state: ValueState[HoltState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[HoltState](
        "holt",
        org.apache.spark.sql.Encoders.product[HoltState],
        TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues
    ): Iterator[TypeHolt] = {
      val st = if (state.exists()) state.get() else HoltState(Long.MinValue, Seq.fill(W)(0L))
      val counts = st.counts.toArray
      val maxHour = TrailingHourCounts.add(st.maxHour, counts, rows.map(_._2))
      state.update(HoltState(maxHour, counts.toSeq))
      var l = 0L
      var b = 0L
      var k = 0
      while (k < W) { l += counts(k) * WL(k); b += counts(k) * WB(k); k += 1 }
      Iterator(TypeHolt(key, maxHour, counts(0), l, b, l + b))
    }
  }
}
