package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.SampleKAgg

/** Streaming per-key value-quantile monitor with BOUNDED state — the
  * latency-percentile dashboard shape: p50/p99 per key, refreshed every
  * micro-batch, state capped at k sample entries per key no matter how
  * long the stream runs.
  *
  * Exact streaming quantiles need every value ever seen; this keeps the
  * bottom-k (KMV) uniform sample instead — the SAME deterministic
  * md5-hash construction as the batch `Robust.sampleQuantiles`, and the
  * same buffer type ([[graft.functions.SampleKAgg.Buf]]), folded row by
  * row in `transformWithState` keyed state. Because sample membership is
  * a pure function of (id, seed), the streaming answer after any prefix
  * equals the batch sketch computed over that prefix — which is how the
  * spec pins it (no tolerance, exact replay equality).
  *
  * Scale: state is k entries × live keys; each micro-batch emits only
  * touched keys (update semantics); the per-row cost is the O(log k)
  * bottom-k insert. Rank error is the standard ±O(1/√k).
  */
object StreamingQuantiles {

  final case class KeyQuantiles(key: String, n: Long, m: Int, p50: Long, p99: Long)

  /** Nearest-rank pick on the sample, mirroring `Robust.sampleQuantiles`:
    * rank ⌈p·m/100⌉ of the value-sorted sample entries.
    */
  def pick(sortedVals: IndexedSeq[Long], p: Int): Long =
    sortedVals((p * sortedVals.length + 99) / 100 - 1)

  /** Per-key p50/p99 over the bounded sample, refreshed for every key a micro-batch touches.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def valueQuantiles(
      rows: DataFrame,
      keyCol: String,
      idCol: String,
      valCol: String,
      k: Int = 64,
      seed: String = "sq-"
  ): Dataset[KeyQuantiles] = {
    import rows.sparkSession.implicits._
    rows
      .select(
        col(keyCol).cast("string").as("key"),
        graft.ops.Sampling.hashValue(col(idCol), seed).as("h"),
        col(idCol).cast("string").as("id"),
        col(valCol).cast("long").as("v"))
      .as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new QuantileProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  class QuantileProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, String, Long), KeyQuantiles] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var state: ValueState[SampleKAgg.Buf] = _
    @transient private lazy val agg = new SampleKAgg(k)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SampleKAgg.Buf](
        "kmv",
        org.apache.spark.sql.Encoders.product[SampleKAgg.Buf],
        TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Long, String, Long)],
        timerValues: TimerValues
    ): Iterator[KeyQuantiles] = {
      val start = if (state.exists()) state.get() else agg.zero
      val updated = rows.foldLeft(start)((b, r) => agg.reduce(b, (r._2, r._3, r._4)))
      state.update(updated)
      val vals = updated.entries.map(_.value).sorted.toIndexedSeq
      Iterator.single(
        KeyQuantiles(key, updated.n, vals.length, pick(vals, 50), pick(vals, 99)))
    }
  }
}
