package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming operators via `mapGroupsWithState` — the upgrade
  * path SURVEY §7.4 calls out for the reference's global-window user totals
  * (`LeaderBoard.java:202-221`), whose state grows forever with user
  * cardinality.
  *
  * State is per-key in the StateStore: partitioned by the grouping key and
  * checkpointed per micro-batch, (users / partitions) entries per task. The
  * partition count is the session's `spark.sql.shuffle.partitions` when the
  * query first starts ([[StatePartitions.Count]] when started inside
  * [[StatePartitions.withStatePartitions]]); a restart from
  * an existing checkpoint keeps the count recorded in its offset log. The
  * processing-time TTL bounds total state for abandoned keys, which plain
  * streaming aggregation cannot do in a global window.
  */
object StatefulScores {

  final case class UserTotal(user: String, total_score: Long, events: Long)

  /** Running per-user totals with an idle-TTL: semantically the reference's
    * global-window accumulating sum, but a user idle longer than
    * `ttlMinutes` of processing time has their state evicted (the total
    * restarts if they return — the documented trade for bounded state).
    * Run with `outputMode("update")`.
    */
  def userTotalsWithTtl(
      events: Dataset[(String, Int)],
      ttlMinutes: Int
  ): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.ProcessingTimeTimeout) {
        (user: String, rows: Iterator[(String, Int)], state: GroupState[UserTotal]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val (sum, n) = rows.foldLeft((0L, 0L)) { case ((s, c), (_, sc)) => (s + sc, c + 1) }
            val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0L))
            val next = UserTotal(user, prev.total_score + sum, prev.events + n)
            state.update(next)
            state.setTimeoutDuration(s"$ttlMinutes minutes")
            next
          }
      }
  }

  /** Output mode required by [[userTotalsWithTtl]]. */
  val RequiredOutputMode: OutputMode = OutputMode.Update()

  /** [[userTotalsWithTtl]] on the Spark 4 `transformWithState` API — the
    * operator-state successor to `mapGroupsWithState`: named state variables
    * with store-native TTL (state expiry handled by the RocksDB store
    * itself, not by timer bookkeeping in user code), multiple state types
    * per processor, and initial-state/timer facilities this operator can
    * grow into. Requires the RocksDB state store provider; TTL counts from
    * each update's processing time.
    */
  class UserTotalProcessor(ttlMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Int), UserTotal] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}

    @transient private var state: ValueState[UserTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl =
        if (ttlMinutes > 0) TTLConfig(java.time.Duration.ofMinutes(ttlMinutes.toLong))
        else TTLConfig.NONE
      state = getHandle.getValueState[UserTotal](
        "user_total",
        org.apache.spark.sql.Encoders.product[UserTotal],
        ttl
      )
    }

    override def handleInputRows(
        user: String,
        rows: Iterator[(String, Int)],
        timerValues: TimerValues
    ): Iterator[UserTotal] = {
      val (sum, n) = rows.foldLeft((0L, 0L)) { case ((s, c), (_, sc)) => (s + sc, c + 1) }
      val prev = if (state.exists()) state.get() else UserTotal(user, 0L, 0L)
      val next = UserTotal(user, prev.total_score + sum, prev.events + n)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Running per-user totals via [[UserTotalProcessor]]; run with
    * `outputMode("update")` on a RocksDB-backed session.
    */
  def userTotalsTws(events: Dataset[(String, Int)], ttlMinutes: Int): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(
        new UserTotalProcessor(ttlMinutes),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update()
      )
  }
}
