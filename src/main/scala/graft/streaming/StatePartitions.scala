package graft.streaming

import org.apache.spark.sql.SparkSession

/** The state partition count of the LeaderBoard queries, fixed by the
  * operator instead of inherited from the session's batch setting.
  *
  * A stateful query's shuffle partition count is also its number of state
  * store partitions: every micro-batch loads, updates and commits one store
  * per partition, whatever the number of keys. Sessions size
  * `spark.sql.shuffle.partitions` to the core count for batch work, and
  * streaming runs without AQE to coalesce it, so a query that inherits the
  * batch setting pays that fixed cost once per core, however small its state.
  *
  * Each `StreamExecution` clones its session when `start()` creates it, and
  * the first batch writes the count into the checkpoint's offset log, so the
  * count only has to be in the session's conf while the queries start.
  */
object StatePartitions {
  /** One partition: LeaderBoardApp ran fastest on it at every measured
    * state size, up to 460,000 state rows (README, "Streaming state
    * partitions").
    */
  val Count = 1

  private val Key = "spark.sql.shuffle.partitions"

  /** Runs `body` (the `writeStream…start()` calls) with the session's
    * shuffle partition count set to [[Count]], then restores the caller's
    * value, or unsets it if the caller had none. Other threads starting
    * queries on the same session at the same time see [[Count]] too.
    */
  def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getAll.get(Key)
    spark.conf.set(Key, Count.toLong)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(Key, p)
      case None => spark.conf.unset(Key)
    }
  }
}
