package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.{HourlyTeamScoreApp, LeaderBoardApp, UserScoreApp}
import graft.generator.{Injector, InjectorConfig}
import graft.model.GameEvent
import graft.streaming.StatePartitions

/** End-to-end app flows: injector file → app → output files, plus the
  * streaming leaderboard fan-out appending both tables.
  */
class AppsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("apps").toString

  private def writeEvents(n: Int): (String, Vector[GameEvent]) = {
    val dir = tmp()
    val path = s"$dir/events.csv"
    val cfg = InjectorConfig()
    Injector.writeLines(cfg, n, path)
    (path, Injector.generate(cfg, n).flatMap(_.event))
  }

  test("CurateApp: dedup + redact + gate + sample end-to-end, parquet out") {
    val in = "/root/testdata/sf0.001/documents.parquet"
    val out = tmp() + "/curated"
    graft.apps.CurateApp.run(spark, in, out)
    val got = spark.read.parquet(out)
    assert(got.columns.contains("logit_micro") && got.columns.contains("text"))
    val n = got.count()
    assert(n > 0)
    // matches the registered composed query's survivors exactly
    val expected = SparkEntry.queries("curation_pipeline_v2")(spark, "/root/testdata/sf0.001")
      .select("doc_id").as[Long].collect().toSet
    val gotIds = got.select("doc_id").as[Long].collect().toSet
    assert(gotIds == expected)
  }

  test("UserScoreApp: file in, formatted per-user totals out") {
    val (input, events) = writeEvents(2000)
    val out = tmp() + "/user-out"
    UserScoreApp.run(spark, input, out)
    val lines = spark.read.textFile(out).collect()
    val expected = events.groupMapReduce(_.user)(_.score.toLong)(_ + _)
    assert(lines.length == expected.size)
    val re = "total_score: (-?\\d+), user: (.+)".r
    lines.foreach {
      case re(total, user) => assert(expected(user) == total.toLong, user)
      case l => fail(s"unexpected line format: $l")
    }
  }

  test("HourlyTeamScoreApp: per-window files with reference naming") {
    val (input, events) = writeEvents(2000)
    val out = tmp() + "/team-out"
    HourlyTeamScoreApp.run(spark, input, out, windowMinutes = 60)
    val files = new java.io.File(out).listFiles().filter(_.getName.startsWith("team-scores-"))
    assert(files.nonEmpty)
    // filename layout: prefix-<start>-<end>-<shard>-of-<n>
    assert(files.forall(_.getName.matches("team-scores-.+-\\d{5}-of-\\d{5}")))
    val totals = files.flatMap(f => scala.io.Source.fromFile(f).getLines())
      .map { l => val re = "total_score: (-?\\d+), team: (.+)".r; l match { case re(t, _) => t.toLong } }
      .sum
    assert(totals == events.map(_.score.toLong).sum)
  }

  /** The state partition count of each query's latest batch that ran its
    * (single) stateful operator.
    */
  private def statePartitionsOf(queries: Seq[StreamingQuery]): Seq[Int] =
    queries.map(_.recentProgress.flatMap(_.stateOperators).last.numShufflePartitions.toInt)

  /** Runs `body` with the shared session's `key` set to `value`, then
    * restores the previous value, or unsets it.
    */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** Run 1 starts the checkpoints at the session's count of 2, as `start`
    * did before it fixed the count; then stop, add a file, and restart
    * through `start`, which asks for `StatePartitions.Count`: user totals
    * carry over. Both runs are on RocksDB, which the team panes need and
    * which run 1 starts without `start`'s helper. Returns the output
    * directory and each run's state partition counts.
    */
  private def leaderBoardRestart(): (String, Seq[Int], Seq[Int]) = withConf(
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  ) {
    import org.apache.spark.sql.functions._
    assert(StatePartitions.Count != 2)
    val inDir = tmp()
    val out = tmp()
    def parsed() = graft.streaming.EventSource
      .readEvents(spark, graft.streaming.EventSource.StreamFiles(inDir))
      .select(col("user"), col("team"), col("score"), col("event_time"))
    def latestUserTotal(user: String): Option[Long] =
      try {
        val df = spark.read.parquet(s"$out/leaderboard_user").filter(col("user") === user)
        if (df.isEmpty) None
        else Some(df.orderBy(col("processing_time").desc).select("total_score").as[Long](spark.implicits.newLongEncoder).head())
      } catch { case _: Throwable => None }
    def await(user: String, expect: Long): Unit = {
      val deadline = System.nanoTime() + 90_000_000_000L
      while (!latestUserTotal(user).contains(expect) && System.nanoTime() < deadline) Thread.sleep(300)
      assert(latestUserTotal(user).contains(expect), s"$user != $expect (got ${latestUserTotal(user)})")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "a.csv"),
      s"alice,Red,5,${3600_000L},x\nbob,Blue,3,${3660_000L},x\nalice,Red,2,${3720_000L},x\n"
    )
    val run1 = withConf("spark.sql.shuffle.partitions", "2") {
      LeaderBoardApp.startAtSessionPartitions(parsed(), out, 60, 120, triggerMillis = 200L)
    }
    val parts1 = try {
      await("alice", 7L)
      run1.foreach(_.processAllAvailable())
      statePartitionsOf(run1)
    } finally run1.foreach(_.stop())
    // new data while stopped; restart must process ONLY the new file
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "b.csv"),
      s"alice,Red,10,${3780_000L},x\nbob,Blue,1,${3840_000L},x\n"
    )
    val run2 = LeaderBoardApp.start(parsed(), out, triggerMillis = 200L)
    val parts2 = try {
      await("alice", 17L) // 7 + 10, not 14 + 10 (no reprocessing of a.csv)
      await("bob", 4L)
      run2.foreach(_.processAllAvailable())
      statePartitionsOf(run2)
    } finally run2.foreach(_.stop())
    (out, parts1, parts2)
  }

  test("LeaderBoardApp restart: checkpoint resumes without loss or double-processing") {
    import org.apache.spark.sql.functions._
    val (out, _, _) = leaderBoardRestart()
    // every row lands in the [1h, 2h) pane, which the watermark never
    // closes: each team's latest EARLY pane folds both files exactly once
    val lastPane = spark.read.parquet(s"$out/leaderboard_team")
      .groupBy("team").agg(max_by(struct(col("total_score"), col("timing")), col("processing_time")))
      .as[(String, (Long, String))].collect().toMap
    assert(lastPane == Map("Red" -> (17L, "EARLY"), "Blue" -> (4L, "EARLY")))
  }

  test("LeaderBoardApp restart under the RocksDB state store keeps totals and run 1's partitions") {
    val (_, parts1, parts2) = leaderBoardRestart()
    assert(parts1 == Seq(2, 2))
    // the offset log's count wins over the one start asks for
    assert(parts2 == Seq(2, 2))
  }

  test("LeaderBoardApp.start: each query runs at StatePartitions.Count; the caller's session keeps its own") {
    implicit val ctx = spark.sqlContext
    val own = spark.conf.get("spark.sql.shuffle.partitions")
    assert(own != StatePartitions.Count.toString)
    val input = MemoryStream[GameEvent]
    val parsed = input.toDF().withColumn("event_time", org.apache.spark.sql.functions.timestamp_millis($"timestamp"))
    val queries = LeaderBoardApp.start(parsed, tmp(), triggerMillis = 200L)
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == own)
      input.addData(Seq(GameEvent("a", "Red", 5, 3600_000L), GameEvent("b", "Blue", 3, 3660_000L)))
      queries.foreach(_.processAllAvailable())
      assert(statePartitionsOf(queries) == Seq(StatePartitions.Count, StatePartitions.Count))
    } finally queries.foreach(_.stop())
    assert(spark.conf.get("spark.sql.shuffle.partitions") == own)
  }

  test("withStatePartitions: a session that never set the count is left unset") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass")
    val child = spark.newSession()
    keys.foreach(child.conf.unset)
    val inside = StatePartitions.withStatePartitions(child)(keys.map(child.conf.get))
    assert(inside == Seq(
      StatePartitions.Count.toString,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    keys.foreach(k => assert(!child.conf.getAll.contains(k), k))
  }

  test("LeaderBoardApp.start: both tables appended, team rows labeled") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[GameEvent]
    val parsed = input.toDF().withColumn("event_time", org.apache.spark.sql.functions.timestamp_millis($"timestamp"))
    val out = tmp()
    val queries = LeaderBoardApp.start(parsed, out, triggerMillis = 200L)
    try {
      input.addData(Seq(GameEvent("a", "Red", 5, 3600_000L), GameEvent("b", "Blue", 3, 3660_000L)))
      queries.foreach(_.processAllAvailable())
      input.addData(Seq(GameEvent("a", "Red", 2, 3720_000L)))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    val team = spark.read.parquet(s"$out/leaderboard_team")
    val user = spark.read.parquet(s"$out/leaderboard_user")
    assert(team.select("timing").as[String].collect().forall(Set("EARLY", "ON_TIME", "LATE")))
    assert(
      user.orderBy($"processing_time".desc).filter($"user" === "a")
        .select("total_score").as[Long].head() == 7L
    )
  }

  test("LeaderBoardApp.start: team panes go EARLY, one ON_TIME, then LATE; too-late rows reach only the user totals") {
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val H = 3600_000L
    val M = 60_000L
    def ev(user: String, team: String, score: Int, at: Long) = GameEvent(user, team, score, at)
    // Each batch is committed before the next is added, so the watermark a
    // batch sees is the max event time of the batches before it.
    val batches = Seq(
      Seq(ev("a", "Red", 5, H + M), ev("b", "Blue", 3, H + 2 * M), ev("a", "Red", 1, H + 5 * M)),
      Seq(ev("c", "Red", 2, H + 30 * M)),
      // the watermark passes 2H: [H, 2H) fires ON_TIME from its timer
      Seq(ev("a", "Red", 4, 2 * H + M)),
      // late but within the 120 min: LATE for Red, the first (ON_TIME) pane for Green
      Seq(ev("c", "Red", 7, H + 40 * M), ev("d", "Green", 2, H + 50 * M)),
      Seq(ev("d", "Green", 1, H + 55 * M)),
      // the watermark passes 2H + 120 min, and 3H: [2H, 3H) fires ON_TIME
      Seq(ev("a", "Red", 1, 4 * H + 30 * M)),
      // too late for [H, 2H): dropped from the team panes only
      Seq(ev("a", "Red", 100, H + 10 * M), ev("b", "Blue", 50, H + 20 * M))
    )
    val tooLate = batches.last.toSet
    val input = MemoryStream[GameEvent]
    val out = tmp()
    val queries = LeaderBoardApp.start(
      input.toDF().withColumn("event_time", timestamp_millis($"timestamp")), out, triggerMillis = 100L)
    try batches.foreach { b =>
      input.addData(b)
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())

    val panes = spark.read.parquet(s"$out/leaderboard_team")
      .select(unix_millis(col("window_start")), col("team"), col("total_score"), col("timing"), col("processing_time"))
      .as[(Long, String, Long, String, java.sql.Timestamp)].collect()
      .groupBy(p => (p._1, p._2))
      .map { case (k, ps) => k -> ps.sortBy(_._5.getTime).map(p => (p._3, p._4)).toSeq }
    assert(panes((H, "Red")) ==
      Seq(6L -> "EARLY", 8L -> "EARLY", 8L -> "ON_TIME", 15L -> "LATE"))
    assert(panes((H, "Blue")) == Seq(3L -> "EARLY", 3L -> "ON_TIME"))
    assert(panes((H, "Green")) == Seq(2L -> "ON_TIME", 3L -> "LATE"))
    assert(panes((2 * H, "Red")) == Seq(4L -> "EARLY", 4L -> "ON_TIME"))
    assert(panes((4 * H, "Red")) == Seq(1L -> "EARLY"))
    val closedBy = 4 * H + 30 * M // the final watermark
    panes.collect { case ((start, _), ps) if start + H <= closedBy => ps.map(_._2).mkString(" ") }
      .foreach(labels => assert(labels.matches("(EARLY )*ON_TIME( LATE)*"), labels))

    val all = batches.flatten
    val expectedTeams = all.filterNot(tooLate)
      .groupMapReduce(e => (e.timestamp - e.timestamp % H, e.team))(_.score.toLong)(_ + _)
    assert(panes.map { case (k, ps) => k -> ps.last._1 } == expectedTeams)
    val lastUser = spark.read.parquet(s"$out/leaderboard_user")
      .groupBy("user").agg(max_by(col("total_score"), col("processing_time")))
      .as[(String, Long)].collect().toMap
    assert(lastUser == all.groupMapReduce(_.user)(_.score.toLong)(_ + _))
    assert(lastUser("a") == 111L && lastUser("b") == 53L)
  }

  test("LeaderBoardApp.start: leaderboard_team keeps its column names and types") {
    import org.apache.spark.sql.types._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[GameEvent]
    val out = tmp()
    val queries = LeaderBoardApp.start(
      input.toDF().withColumn("event_time", org.apache.spark.sql.functions.timestamp_millis($"timestamp")),
      out, triggerMillis = 100L)
    try {
      input.addData(Seq(GameEvent("a", "Red", 5, 3600_000L)))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    val got = spark.read.parquet(s"$out/leaderboard_team").schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(got == Seq(
      "window_start" -> TimestampType, "window_end" -> TimestampType, "team" -> StringType,
      "total_score" -> LongType, "timing" -> StringType, "processing_time" -> TimestampType))
  }

  test("LeaderBoardApp.start over SyntheticStream: user totals fold the admitted rows, event time advances") {
    import org.apache.spark.sql.functions._
    val cfg = InjectorConfig(seed = 3)
    val parsed = graft.streaming.EventSource
      .readEvents(spark, graft.streaming.EventSource.SyntheticStream(rowsPerBatch = 2000L, cfg = cfg))
      .select(col("user"), col("team"), col("score"), col("event_time"))
    val out = tmp()
    // Each query is stopped within one 20 ms poll of its second batch's
    // progress, before a batch started after it can reach the sink, so the
    // sink holds exactly the batches lastProgress reports.
    val queries = LeaderBoardApp.start(parsed, out)
    try {
      val deadline = System.nanoTime() + 120_000_000_000L
      while (queries.exists(_.isActive) && System.nanoTime() < deadline) {
        queries.filter(q => q.isActive && Option(q.lastProgress).exists(_.batchId >= 1)).foreach(_.stop())
        Thread.sleep(20)
      }
    } finally queries.foreach(_.stop())
    val Seq(teamQ, userQ) = queries
    assert(userQ.lastProgress.batchId >= 1 && teamQ.lastProgress.batchId >= 1)
    val n = "\"offset\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(userQ.lastProgress.sources.head.endOffset).get.group(1).toInt
    assert(n == 2000 * (userQ.lastProgress.batchId + 1))
    val expected = Injector.generate(cfg, n).flatMap(_.event).groupMapReduce(_.user)(_.score.toLong)(_ + _)
    val last = spark.read.parquet(s"$out/leaderboard_user")
      .groupBy("user").agg(max_by(col("total_score"), col("processing_time")))
      .as[(String, Long)].collect().toMap
    assert(last == expected)
    // 2,000 rows per 1 s batch: each batch covers exactly 1 s of event time
    val maxEventTime = teamQ.recentProgress.take(2)
      .map(p => java.time.Instant.parse(p.eventTime.get("max")).toEpochMilli)
    assert(maxEventTime(1) - maxEventTime(0) == 1000L, maxEventTime.toSeq)
  }
}
