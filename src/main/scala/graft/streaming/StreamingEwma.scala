package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming face of the exact dyadic EWMA rate monitor
  * ([[graft.ops.TimeSeries.ewmaHourly]]): per event type, the smoothed
  * hourly rate (α = 1/2, 16-hour truncation, scaled by 2^16 — an exact
  * integer) refreshed every micro-batch.
  *
  * State per key is ONE 16-slot count window + the current max hour —
  * 17 longs, bounded for the life of the stream. Because the batch EWMA
  * at hour h only reads the 16 trailing hourly counts, the streaming
  * emission for a key's current hour is BIT-EQUAL to the batch operator
  * run over the same prefix (spec-pinned exact equality, no tolerance).
  *
  * Lateness: an event older than the 16-hour window is dropped — the
  * truncation horizon doubles as the allowed-lateness contract (a late
  * event inside the window updates the counts and the next emission,
  * exactly like a batch recompute would).
  */
object StreamingEwma {

  final case class TypeEwma(event_type: String, hour: Long, cnt: Long, ewma_x65536: Long)

  final case class EwmaState(maxHour: Long, counts: Seq[Long]) // counts(i) = cnt at maxHour − i

  private val W = graft.ops.TimeSeries.EwmaWindow // 16

  def hourlyEwma(rows: DataFrame): Dataset[TypeEwma] = {
    import rows.sparkSession.implicits._
    rows
      .select(col("event_type").cast("string"), expr("ts_ms DIV 3600000").as("hour"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new EwmaProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  class EwmaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Long), TypeEwma] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var state: ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[EwmaState](
        "ewma",
        org.apache.spark.sql.Encoders.product[EwmaState],
        TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues
    ): Iterator[TypeEwma] = {
      val st = if (state.exists()) state.get() else EwmaState(Long.MinValue, Seq.fill(W)(0L))
      val counts = st.counts.toArray
      val maxHour = TrailingHourCounts.add(st.maxHour, counts, rows.map(_._2))
      state.update(EwmaState(maxHour, counts.toSeq))
      var ewma = 0L
      var k = 0
      while (k < W) { ewma += counts(k) << (W - 1 - k); k += 1 }
      Iterator(TypeEwma(key, maxHour, counts(0), ewma))
    }
  }
}
