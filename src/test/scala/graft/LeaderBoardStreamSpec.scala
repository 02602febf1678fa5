package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.model.GameEvent
import graft.streaming.{LeaderBoardStream, StatePartitions}

/** Streaming semantics (SURVEY §2.4 W2-W5): accumulating updates, late data
  * within the allowed lateness incorporated, data beyond it dropped. Pane
  * labels (W6) are checked end to end in `AppsSpec`.
  */
class LeaderBoardStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val H = 3600_000L

  private def latestTotals(sinkTable: String, keyCols: String*): Map[Seq[Any], Long] = {
    // Memory sink in update mode appends every emitted update; the newest
    // row per key is the current accumulated value.
    val rows = spark.table(sinkTable).collect()
    rows.zipWithIndex
      .groupBy { case (r, _) => keyCols.map(r.getAs[Any]) }
      .map { case (k, rs) => k -> rs.maxBy(_._2)._1.getAs[Long]("total_score") }
  }

  private def runBatches(
      name: String,
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
  )(batches: Seq[GameEvent]*): Unit = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[GameEvent]
    val events = build(
      input.toDF().withColumn("event_time", timestamp_millis($"timestamp"))
    )
    val q: StreamingQuery = StatePartitions.withStatePartitions(spark) {
      events.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    }
    try {
      batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  test("team scores accumulate across micro-batches (accumulating panes, W4)") {
    runBatches("team_acc", df => LeaderBoardStream.teamPanes(df, 60, 120))(
      Seq(GameEvent("a", "Red", 5, H + 60_000), GameEvent("b", "Blue", 3, H + 120_000)),
      Seq(GameEvent("c", "Red", 7, H + 180_000))
    )
    val totals = latestTotals("team_acc", "team")
    assert(totals(Seq("Red")) == 12L)
    assert(totals(Seq("Blue")) == 3L)
  }

  test("late data within allowed lateness updates its window (W3)") {
    runBatches("team_late", df => LeaderBoardStream.teamPanes(df, 60, 120))(
      Seq(GameEvent("a", "Red", 5, H + 60_000)),
      // the watermark after batch1 is H+60s, past this row's window end H,
      // but by less than the 120 min allowed lateness
      Seq(GameEvent("b", "Red", 4, H - 1_800_000)),
      Seq(GameEvent("c", "Red", 1, H + 120_000))
    )
    val totals = latestTotals("team_late", "team", "window_start")
    // window containing H-30min is the [H-1h, H) window — must exist with 4
    val rows = spark.table("team_late").collect()
    val byWindow = rows.groupBy(_.getAs[java.sql.Timestamp]("window_start").getTime)
    assert(byWindow.contains(0L * H) || byWindow.contains(0L)) // [0,1h) window present
    assert(byWindow(0L).map(_.getAs[Long]("total_score")).max == 4L)
    assert(byWindow(H).map(_.getAs[Long]("total_score")).max == 6L)
  }

  test("data beyond the watermark is dropped (W3 late-drop)") {
    val FAR = 100 * H // push watermark far forward
    val M = 60_000L
    runBatches("team_drop", df => LeaderBoardStream.teamPanes(df, 60, 120))(
      Seq(GameEvent("a", "Red", 5, FAR)),
      // batch2: the watermark is now FAR; this event's window ended 49 hours
      // before it, beyond allowed lateness, so it must NOT appear
      Seq(GameEvent("zed", "Zombie", 99, 50 * H)),
      Seq(GameEvent("b", "Red", 1, FAR + M)),
      Seq(GameEvent("c", "Red", 2, FAR + 170 * M)),
      // 10 min into its window, 160 min behind the max event time: a late
      // filter on its own event time (against the 0 s watermark, or against
      // max - 120 min) would drop it, but its window ended 110 min before
      // the max, within the allowed lateness, so Beam's rule keeps it
      Seq(GameEvent("t", "Teal", 3, FAR + 10 * M))
    )
    val teams = spark.table("team_drop").select("team").as[String].collect().toSet
    assert(!teams.contains("Zombie"))
    val teal = spark.table("team_drop").filter($"team" === "Teal")
      .select("total_score", "timing").as[(Long, String)].collect().toSeq
    assert(teal == Seq(3L -> "ON_TIME"))
  }

  test("user scores: running totals never drop old data (global window, W5)") {
    runBatches("user_run", df => LeaderBoardStream.calculateUserScores(df))(
      Seq(GameEvent("a", "Red", 5, 100 * H)),
      // arbitrarily old event still counts — global window has no lateness
      Seq(GameEvent("a", "Red", 7, 1_000L)),
      Seq(GameEvent("b", "Blue", 2, 100 * H))
    )
    val totals = latestTotals("user_run", "user")
    assert(totals(Seq("a")) == 12L)
    assert(totals(Seq("b")) == 2L)
  }
}
