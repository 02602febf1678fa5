package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.model.GameEvent
import graft.ops.Scoring
import graft.sinks.TextSink
import graft.streaming.{EventSource, LeaderBoardStream}
import graft.streaming.StatePartitions.withStatePartitions

/** The reference's three entry points as library functions + thin CLI mains
  * (reference `UserScore.java:133-149`, `HourlyTeamScore.java:72-101`,
  * `LeaderBoard.java:136-175`). Options mirror the reference's option
  * interfaces (SURVEY §2.7) as `--key=value` args; each `run` is
  * session-agnostic for tests.
  */
object Apps {
  private[apps] def argMap(args: Array[String]): Map[String, String] =
    args.collect { case a if a.startsWith("--") && a.contains("=") =>
      val Array(k, v) = a.drop(2).split("=", 2); k -> v
    }.toMap

  private[apps] def eventCols(parsed: DataFrame): DataFrame =
    parsed.select(col("user"), col("team"), col("score"), col("timestamp"), col("event_time"))
}

/** Batch per-user totals (`UserScore.java`): read CSV → parse → sum per user
  * → formatted text rows.
  */
object UserScoreApp {
  def run(spark: SparkSession, input: String, output: String): Unit = {
    val events = EventSource.readEvents(spark, EventSource.BatchFiles(input))
    val totals = Scoring.extractAndSumScore(
      events.select(col("user"), col("team"), col("score")),
      "user"
    )
    val lines = TextSink.formatRows(
      totals,
      Seq("total_score" -> col("total_score"), "user" -> col("key"))
    )
    TextSink.write(lines, output)
  }

  def main(args: Array[String]): Unit = {
    val opts = Apps.argMap(args)
    val spark = GraftSession.local(appName = "user-score")
    try run(spark, opts("input"), opts("output"))
    finally spark.stop()
  }
}

/** Batch hourly team scores (`HourlyTeamScore.java`): strict minute bounds
  * (PST `yyyy-MM-dd-HH-mm`, `HourlyTeamScore.java:30-32`), 60-min windows,
  * one file set per window.
  */
object HourlyTeamScoreApp {
  def run(
      spark: SparkSession,
      input: String,
      output: String,
      windowMinutes: Int = 60,
      startMin: Option[String] = None,
      stopMin: Option[String] = None
  ): Unit = {
    val events = EventSource.readEvents(spark, EventSource.BatchFiles(input))
    val windowed = Scoring.hourlyTeamScore(
      events.select(col("team"), col("score"), col("timestamp"), col("event_time")),
      windowMinutes,
      startMs = startMin.map(GameEvent.parseMinute).getOrElse(Long.MinValue),
      stopMs = stopMin.map(GameEvent.parseMinute).getOrElse(Long.MaxValue)
    )
    TextSink.writeOneFilePerWindow(
      windowed,
      concat(lit("total_score: "), col("total_score"), lit(", team: "), col("team")),
      output,
      prefix = "team-scores"
    )
  }

  def main(args: Array[String]): Unit = {
    val opts = Apps.argMap(args)
    val spark = GraftSession.local(appName = "hourly-team-score")
    try
      run(
        spark,
        opts("input"),
        opts("output"),
        opts.get("windowDuration").map(_.toInt).getOrElse(60),
        opts.get("startMin"),
        opts.get("stopMin")
      )
    finally spark.stop()
  }
}

/** Streaming leaderboard (`LeaderBoard.java`): one parsed stream fans out to
  * (a) windowed team panes labeled EARLY/ON_TIME/LATE and (b) global running
  * user totals, both appended to managed tables per micro-batch.
  */
object LeaderBoardApp {

  /** Start both branches from an already-parsed streaming frame; returns the
    * running queries (caller stops them). The team branch is
    * [[graft.streaming.LeaderBoardStream.teamPanes]].
    *
    * Each query runs at [[graft.streaming.StatePartitions.Count]] shuffle
    * and state store partitions on the RocksDB store; the caller's session
    * keeps its own settings. Every micro-batch loads and commits one store
    * per partition, so the count follows the state, not the core count.
    *
    * Restart rule: a checkpoint fixes the count and the store when its
    * query first starts, and a restart from an existing `outputDir` takes
    * both from the checkpoint's offset log. A user checkpoint written
    * before the team branch became `teamPanes` resumes as before. A team
    * checkpoint written then holds a windowed aggregation's state, which
    * `teamPanes` cannot read: the team query must start in a new
    * `outputDir`.
    */
  def start(
      parsed: DataFrame,
      outputDir: String,
      teamWindowMinutes: Int = 60,
      allowedLatenessMinutes: Int = 120,
      triggerMillis: Long = 1000L
  ): Seq[StreamingQuery] = withStatePartitions(parsed.sparkSession) {
    startAtSessionPartitions(parsed, outputDir, teamWindowMinutes, allowedLatenessMinutes, triggerMillis)
  }

  /** [[start]] without fixing the count or the store: both queries take the
    * session's settings when they first start, and the team query needs
    * RocksDB. For the restart spec and the state partition diag, which set
    * them around it.
    */
  private[graft] def startAtSessionPartitions(
      parsed: DataFrame,
      outputDir: String,
      teamWindowMinutes: Int,
      allowedLatenessMinutes: Int,
      triggerMillis: Long
  ): Seq[StreamingQuery] = {
    def appendTo(branch: String, scores: DataFrame): StreamingQuery =
      scores.writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$outputDir/_checkpoints/$branch")
        .trigger(Trigger.ProcessingTime(triggerMillis))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          TextSink.appendTable(
            batch.withColumn("processing_time", current_timestamp()),
            s"$outputDir/leaderboard_$branch"
          )
        }
        .queryName(s"leaderboard_$branch")
        .start()
    Seq(
      appendTo("team", LeaderBoardStream.teamPanes(parsed, teamWindowMinutes, allowedLatenessMinutes)),
      appendTo("user", LeaderBoardStream.calculateUserScores(parsed))
    )
  }

  def main(args: Array[String]): Unit = {
    val opts = Apps.argMap(args)
    val spark = GraftSession.local(appName = "leaderboard")
    val source = opts.get("inputDir") match {
      case Some(dir) => EventSource.StreamFiles(dir)
      // one micro-batch per 1 s trigger, so rows per batch is events per second
      case None => EventSource.SyntheticStream(opts.get("eventsPerSec").map(_.toLong).getOrElse(2000L))
    }
    val parsed = Apps.eventCols(EventSource.readEvents(spark, source))
    val queries = start(
      parsed,
      opts("output"),
      opts.get("teamWindowDuration").map(_.toInt).getOrElse(60),
      opts.get("allowedLateness").map(_.toInt).getOrElse(120)
    )
    val runtimeSec = opts.get("runtimeSec").map(_.toLong).getOrElse(60L)
    Thread.sleep(runtimeSec * 1000)
    queries.foreach(_.stop())
    spark.stop()
  }
}

/** Batch corpus curation (the training-data side's entry point): exact
  * dedup → PII redaction → quality-logit gate → per-language stratified
  * sampling — the composed `curation_pipeline_v2` plan — written as
  * parquet. Options: `--input=<docs.parquet>` `--output=<dir>`
  * [`--minLogit=0`] [`--rates=en:1.0,de:0.5,...`] [`--seed=cur3`].
  */
object CurateApp {
  def run(
      spark: SparkSession,
      input: String,
      output: String,
      minLogitMicro: Long = 0L,
      rates: Map[String, Double] = Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.5, "zh" -> 0.25),
      seed: String = "cur3"
  ): Unit = {
    val docs = spark.read.parquet(input)
    val deduped = graft.ops.Dedup.dropExactDuplicates(docs)
    val cleaned = deduped.withColumn("text", graft.ops.TextAnalysis.piiRedact(col("text")))
    val gated = cleaned
      .withColumn(
        "logit_micro",
        graft.ops.TextAnalysis.qualityLogit(col("text"), length(col("text")))
      )
      .filter(col("logit_micro") > minLogitMicro)
    graft.ops.Sampling
      .stratifiedSample(gated, keyCol = "doc_id", strataCol = "lang", rates = rates, seed = seed)
      .write.mode("overwrite").parquet(output)
  }

  def main(args: Array[String]): Unit = {
    val opts = Apps.argMap(args)
    val rates = opts.get("rates")
      .map(_.split(",").map { kv => val Array(k, v) = kv.split(":"); k -> v.toDouble }.toMap)
      .getOrElse(Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.5, "zh" -> 0.25))
    val spark = GraftSession.local(appName = "curate")
    try run(
      spark,
      opts("input"),
      opts("output"),
      opts.getOrElse("minLogit", "0").toLong,
      rates,
      opts.getOrElse("seed", "cur3")
    )
    finally spark.stop()
  }
}
