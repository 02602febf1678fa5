package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream joins with bounded state — coverage the reference's
  * single-stream pipelines never needed, but any production event pipeline
  * does (enrich a fact stream against another stream, correlate two event
  * feeds inside a time band).
  *
  * State design: Spark keeps both sides' unmatched rows in the StateStore
  * until the watermark plus the join's time-range condition prove no future
  * match is possible. Both inputs therefore MUST be watermarked and the
  * join MUST carry a time-range predicate — without them state grows
  * forever. At 100 TB/day the state held is O(key-cardinality × band
  * width), partitioned by the join key hash like any keyed state.
  */
object StreamJoin {

  /** Inner interval join on a shared key: pairs (l, r) with
    * `leftTime - beforeMillis <= rightTime <= leftTime + afterMillis`.
    * `leftTime`/`rightTime` must be distinct timestamp column names, and
    * the non-key columns of the two sides must not clash. Output: left
    * columns + right columns (right key dropped).
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      beforeMillis: Long,
      afterMillis: Long,
      watermarkDelay: String
  ): DataFrame = {
    require(leftTime != rightTime, "left and right time columns must have distinct names")
    val clash = (right.columns.toSet - key - rightTime).intersect(left.columns.toSet)
    require(clash.isEmpty, s"right columns clash with left: ${clash.mkString(", ")}")
    val l = left.withWatermark(leftTime, watermarkDelay)
    val r = right.withWatermark(rightTime, watermarkDelay).withColumnRenamed(key, "_rk")
    l.join(
        r,
        col(key) === col("_rk") &&
          col(rightTime) >= col(leftTime) - expr(s"INTERVAL $beforeMillis MILLISECONDS") &&
          col(rightTime) <= col(leftTime) + expr(s"INTERVAL $afterMillis MILLISECONDS")
      )
      .drop("_rk")
  }
}
