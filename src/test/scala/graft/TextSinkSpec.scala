package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.GameEvent
import graft.ops.Scoring
import graft.sinks.TextSink

class TextSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("formatRows emits 'k: v, k: v' in declared field order (P6)") {
    val df = Seq(("alice", 12L)).toDF("user", "total_score")
    val line = TextSink
      .formatRows(df, Seq("user" -> $"user", "total_score" -> $"total_score"))
      .as[String]
      .head()
    assert(line == "user: alice, total_score: 12")
  }

  test("writeOneFilePerWindow: reference filename layout, numShards files max per window") {
    val events = Seq(
      GameEvent("a", "Red", 5, 3600_000L),
      GameEvent("b", "Red", 3, 3700_000L),
      GameEvent("c", "Blue", 9, 7300_000L)
    ).toDF().withColumn("event_time", timestamp_millis($"timestamp"))
    val hourly = Scoring.hourlyTeamScore(events, 60)
    val out = Files.createTempDirectory("winwrite").toString
    TextSink.writeOneFilePerWindow(
      hourly,
      concat(lit("team: "), $"team", lit(", total_score: "), $"total_score"),
      out,
      prefix = "teamscore",
      numShards = 3
    )
    val files = new java.io.File(out).listFiles().map(_.getName).filterNot(_.startsWith("."))
    assert(files.nonEmpty)
    // layout: prefix-<PST start>-<PST end>-<shard>-of-<n> (WriteToText.java:106-127)
    val re = """teamscore-\d{4}-\d{2}-\d{2}-\d{2}-\d{2}-\d{2}-\d{3}-\d{4}-\d{2}-\d{2}-\d{2}-\d{2}-\d{2}-\d{3}-\d{5}-of-\d{5}""".r
    files.foreach(f => assert(re.pattern.matcher(f).matches(), f))
    // 2 windows, ≤3 shards each
    assert(files.length <= 6)
    val lines = files.flatMap(f => scala.io.Source.fromFile(s"$out/$f").getLines())
    assert(lines.toSet == Set("team: Red, total_score: 8", "team: Blue, total_score: 9"))
  }

  test("streamOneFilePerWindow: per-window files from a streaming query, batch-qualified") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{LeaderBoardStream, StatePartitions}
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("stream-windows").toString
    val input = MemoryStream[graft.model.GameEvent]
    val windowed = LeaderBoardStream.teamPanes(
      input.toDF().withColumn("event_time", timestamp_millis($"timestamp")), 60, 120
    )
    val q = StatePartitions.withStatePartitions(spark) {
      windowed.writeStream
        .outputMode("update")
        .foreachBatch(TextSink.streamOneFilePerWindow(
          concat(lit("total_score: "), col("total_score"), lit(", team: "), col("team")),
          out, "stream-scores"
        ))
        .start()
    }
    try {
      input.addData(Seq(graft.model.GameEvent("a", "Red", 5, 3600_000L)))
      q.processAllAvailable()
      input.addData(Seq(graft.model.GameEvent("b", "Red", 4, 3660_000L)))
      q.processAllAvailable()
    } finally q.stop()
    val files = new java.io.File(out).listFiles().filter(_.getName.startsWith("stream-scores-b"))
    assert(files.nonEmpty)
    assert(files.forall(_.getName.matches("stream-scores-b\\d+-.+-\\d{5}-of-\\d{5}")))
    // a later batch's file carries the accumulated total (5 + 4)
    val lines = files.toSeq.flatMap(f => scala.io.Source.fromFile(f).getLines())
    assert(lines.contains("total_score: 9, team: Red"))
  }

  test("appendTable accumulates (WRITE_APPEND disposition)") {
    val dir = Files.createTempDirectory("append").toString + "/t"
    TextSink.appendTable(Seq((1L, "a")).toDF("id", "v"), dir)
    TextSink.appendTable(Seq((2L, "b")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
  }
}
