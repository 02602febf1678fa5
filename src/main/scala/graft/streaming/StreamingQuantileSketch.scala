package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming face of the graded fixed-grid quantile sketch
  * ([[graft.ops.Robust.quantileSketchError]]): width-`w` cell counts merge
  * by ADDITION, so a plain streaming aggregation's state IS the sketch —
  * one long per non-empty cell, bounded by value-range / w for the life of
  * the stream, no custom processor and no sampling. This is the guaranteed
  * complement to [[StreamingQuantiles]] (KMV sample: k·keys state,
  * ±O(1/√k) RANK error, any value domain) — the grid sketch's error is a
  * VALUE bound (< w, a guarantee) with state priced by the domain instead.
  *
  * Determinism contract: after any stream prefix, the sink's cell counts
  * equal the batch sketch computed over that prefix exactly (integer
  * addition is order-blind), so the nearest-rank quantile read off the
  * sink equals the batch operator's estimate bit for bit — spec-pinned
  * with no tolerance, the same discipline as the EWMA/Holt twins.
  *
  * Values are offset by +10⁶ before the integer division, matching the
  * batch operator, so truncation equals floor for inputs above −10⁶.
  */
object StreamingQuantileSketch {

  /** value rows → (cell, ccnt) in update mode; state = non-empty cells.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def cellCounts(rows: DataFrame, valCol: String, w: Long): DataFrame = {
    require(w >= 1, "cell width must be >= 1")
    rows
      .select(expr(s"($valCol + 1000000) DIV $w").as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("ccnt"))
  }

  /** Nearest-rank quantile from a sink snapshot (bounded: non-empty cells
    * only), mirroring the batch upper-edge estimate: rank ⌈pct·n/100⌉,
    * first cell whose cumulative count reaches it, cell upper edge minus
    * the offset. The estimate sits in the true quantile's cell, so
    * `estimate − truth ∈ [0, w)` — the same guarantee the batch spec pins.
    */
  def quantile(cells: Seq[(Long, Long)], pct: Int, w: Long): Long = {
    require(cells.nonEmpty, "empty sketch has no quantiles")
    require(pct >= 1 && pct <= 100, "pct in [1, 100]")
    val sorted = cells.sortBy(_._1)
    val n = sorted.iterator.map(_._2).sum
    val rank = (pct * n + 99) / 100
    var cum = 0L
    val cell = sorted
      .find { case (_, c) => cum += c; cum >= rank }
      .getOrElse(sorted.last)
      ._1
    cell * w + (w - 1L) - 1000000L
  }
}
