package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.FreqItemsAgg

/** Streaming heavy hitters with BOUNDED state: a Misra-Gries sketch per
  * shard in keyed state, re-emitted every micro-batch.
  *
  * Exact streaming frequency counting keeps one counter per distinct item —
  * unbounded on an open vocabulary. Sharding items by hash and keeping a
  * `capacity`-counter Misra-Gries sketch per shard caps total state at
  * `shards × capacity` counters while preserving the sketch guarantee:
  * an item lives entirely in one shard, so any item with true count
  * `> shardTotal/(capacity+1)` (≥ its global threshold) is present in its
  * shard's counter set. Merging the per-shard outputs (disjoint key sets)
  * yields the global candidate set; an exact verification pass — batch
  * [[graft.ops.HeavyHitters]] style — turns candidates into exact counts
  * where needed.
  */
object StreamingHeavyHitters {

  final case class ShardCounts(shard: Int, items: Map[String, Long])

  /** Per-shard sketch state over an item stream; emits each touched shard's
    * current counter map every micro-batch (update semantics).
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def shardSketches(
      items: DataFrame,
      itemCol: String,
      capacity: Int,
      shards: Int
  ): Dataset[ShardCounts] = {
    import items.sparkSession.implicits._
    items
      .select(
        (abs(hash(col(itemCol))) % shards).cast("int").as("shard"),
        col(itemCol).cast("string").as("item")
      )
      .as[(Int, String)]
      .groupByKey(_._1)
      .transformWithState(
        new SketchProcessor(capacity),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update()
      )
  }

  /** Merge one micro-batch of shard outputs into the global candidate list
    * (shards partition the item space, so this is a plain union), keeping
    * items with sketch count ≥ `minCount`. Apply inside `foreachBatch`.
    */
  def candidates(batch: DataFrame, minCount: Long): DataFrame = {
    batch
      .select(explode(col("items")).as(Seq("item", "n")))
      .groupBy(col("item"))
      .agg(max(col("n")).as("n")) // one shard owns each item; max = its count
      .filter(col("n") >= minCount)
  }

  class SketchProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, (Int, String), ShardCounts] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var state: ValueState[FreqItemsAgg.Buf] = _
    @transient private lazy val agg = new FreqItemsAgg(capacity)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FreqItemsAgg.Buf](
        "sketch",
        org.apache.spark.sql.Encoders.product[FreqItemsAgg.Buf],
        TTLConfig.NONE
      )

    override def handleInputRows(
        shard: Int,
        rows: Iterator[(Int, String)],
        timerValues: TimerValues
    ): Iterator[ShardCounts] = {
      val start = if (state.exists()) state.get() else agg.zero
      val updated = rows.foldLeft(start)((b, r) => agg.reduce(b, r._2))
      state.update(updated)
      Iterator.single(ShardCounts(shard, updated.counts))
    }
  }
}
