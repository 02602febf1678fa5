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

  /** HourlyTeamScore over 12 teams in each of two hourly windows. */
  private def manyTeamsHourly() = {
    val events = for (w <- 0 until 2; t <- 0 until 12)
      yield GameEvent(s"u$t", s"Team$t", 10 * w + t, 3600_000L * (w + 1) + t)
    Scoring.hourlyTeamScore(events.toDF().withColumn("event_time", timestamp_millis($"timestamp")), 60)
  }

  private def teamLine = concat(lit("team: "), col("team"), lit(", total_score: "), col("total_score"))

  /** Visible file name → bytes, for every file under `dir`. */
  private def contents(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().filterNot(_.getName.startsWith("."))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("writeOneFilePerWindow: files depend only on the rows, not on the input's partitioning") {
    val hourly = manyTeamsHourly()
    val dirs = Seq(1, 4).map { n =>
      val out = Files.createTempDirectory(s"winwrite-p$n").toString
      TextSink.writeOneFilePerWindow(hourly.repartition(n), teamLine, out, prefix = "teamscore", numShards = 3)
      out
    }
    val Seq(one, four) = dirs.map(contents)
    assert(one.nonEmpty && one.size <= 6)
    assert(one.keySet == four.keySet)
    one.foreach { case (name, bytes) => assert(bytes == four(name), name) }
    assert(one.values.flatMap(b => new String(b.toArray, "UTF-8").split("\n")).size == 24)
  }

  test("writeOneFilePerWindow: an empty frame leaves outputDir created and empty") {
    val out = Files.createTempDirectory("winwrite-empty").toString + "/out"
    TextSink.writeOneFilePerWindow(manyTeamsHourly().filter(lit(false)), teamLine, out, prefix = "teamscore")
    assert(new java.io.File(out).isDirectory)
    assert(new java.io.File(out).listFiles().isEmpty)
  }

  test("writeOneFilePerWindow: numShards < 1 fails on the driver before any job starts") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(started.add)
    }
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("winwrite-zero").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("numShards-0", "numShards = 0")
      intercept[IllegalArgumentException] {
        TextSink.writeOneFilePerWindow(manyTeamsHourly(), teamLine, out, prefix = "teamscore", numShards = 0)
      }
      // Listener events arrive in order: once the marker job is seen, every
      // job the write started has been seen too.
      sc.setJobGroup("numShards-0-marker", "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 60_000_000_000L
      while (!started.contains("numShards-0-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("numShards-0-marker"))
      assert(!started.contains("numShards-0"), "a job started before numShards was checked")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
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
