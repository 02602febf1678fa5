package graft.streaming

import org.apache.spark.sql.SparkSession

/** The state partition count and state store of graft's stateful queries,
  * fixed by the operator instead of inherited from the session's batch
  * setting.
  *
  * A stateful query's shuffle partition count is also its number of state
  * store partitions: every micro-batch loads, updates and commits one store
  * per partition, whatever the number of keys. Sessions size
  * `spark.sql.shuffle.partitions` to the core count for batch work, and
  * streaming runs without AQE to coalesce it, so a query that inherits the
  * batch setting pays that fixed cost once per core, however small its state.
  * `transformWithState` also needs the RocksDB store, which a session may
  * not set.
  *
  * Each `StreamExecution` clones its session when `start()` creates it, and
  * the first batch writes the count and the store into the checkpoint's
  * offset log, so both only have to be in the session's conf while the
  * queries start.
  *
  * The operators under `streaming/` pin neither value: their caller owns
  * the count and the store. `LeaderBoardApp.start` and `StreamBench` start
  * their queries inside [[withStatePartitions]]; any other caller starts at
  * the session's values unless it does the same.
  */
object StatePartitions {
  /** One partition: LeaderBoardApp ran fastest on it at every measured
    * state size, up to 460,000 state rows (README, "Streaming state
    * partitions").
    */
  val Count = 1

  private val Pinned = Seq(
    "spark.sql.shuffle.partitions" -> Count.toString,
    "spark.sql.streaming.stateStore.providerClass" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  )

  /** Runs `body` (the `writeStream…start()` calls) with the session's
    * shuffle partition count set to [[Count]] and its state store set to
    * RocksDB, then restores each of the caller's values, or unsets it if
    * the caller had none. Other threads starting queries on the same
    * session at the same time see these values too.
    */
  def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val prev = Pinned.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    Pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
