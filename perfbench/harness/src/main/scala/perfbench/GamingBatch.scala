package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.apps.{HourlyTeamScoreApp, UserScoreApp}
import graft.ops.{Parse, Scoring}
import graft.sinks.TextSink
import graft.streaming.EventSource

/** The gaming half of `batch_suite`: UserScoreApp.run then
  * HourlyTeamScoreApp.run over a seeded CSV of game events.
  */
object GamingBatch {
  val Events = 150000
  val Hours = 12

  /** One pass into its own output directory (the previous pass's is
    * deleted afterwards): the wall ms of UserScoreApp.run and of
    * HourlyTeamScoreApp.run, or None if either threw.
    */
  def pass(ctx: Ctx, csv: String, k: Int): Option[(Double, Double)] = {
    val out = ctx.dir(s"out/pass-$k")
    val tr = ctx.tracer
    val t = ctx.res.attempt(s"gaming pass $k") {
      tr.span("gaming pass") {
        val (_, user) = Stats.time(tr.span("UserScoreApp.run")(UserScoreApp.run(ctx.spark, csv, s"$out/user")))
        val (_, hourly) = Stats.time(
          tr.span("HourlyTeamScoreApp.run")(HourlyTeamScoreApp.run(ctx.spark, csv, s"$out/hourly")))
        (Stats.millis(user), Stats.millis(hourly))
      }
    }
    if (k > 0) Io.rmrf(ctx.dir(s"out/pass-${k - 1}"))
    t
  }

  /** Per-layer probes, each a public graft function driven alone into a
    * no-op sink (or its own write), three times, median reported.
    */
  def layers(ctx: Ctx, csv: String, expect: Gen.BatchExpect): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val tr = ctx.tracer
    def med3(name: String)(body: Int => Unit): Double =
      Stats.median((0 until 3).map { i => Stats.secs(Stats.time(tr.span(name)(body(i)))._2) })

    ctx.queries.observed.clear()
    val parseS = med3("Parse.parseGameEvents") { _ =>
      Parse.parseGameEvents(spark.read.text(csv), observe = true).write.format("noop").mode("overwrite").save()
    }
    res.put("parse.rows_per_s", expect.lines / parseS, "1/s")
    val dropped = Io.parseErrors(ctx)
    res.check(dropped.nonEmpty, "the parse probe reported no parse observation")
    res.put("parse.dropped_rows", dropped.headOption.getOrElse(0L).toDouble, "count")

    val events = EventSource.readEvents(spark, EventSource.BatchFiles(csv))
      .select(col("user"), col("team"), col("score"), col("timestamp"), col("event_time"))
      .cache()
    events.write.format("noop").mode("overwrite").save()
    val userS = med3("Scoring.extractAndSumScore") { _ =>
      Scoring.extractAndSumScore(events.select(col("user"), col("team"), col("score")), "user")
        .write.format("noop").mode("overwrite").save()
    }
    val hourlyS = med3("Scoring.hourlyTeamScore") { _ =>
      Scoring.hourlyTeamScore(events.select(col("team"), col("score"), col("timestamp"), col("event_time")))
        .write.format("noop").mode("overwrite").save()
    }
    res.put("scoring.user_s", userS, "s")
    res.put("scoring.hourly_s", hourlyS, "s")

    val totals = Scoring.extractAndSumScore(events.select(col("user"), col("team"), col("score")), "user").cache()
    val windowed = Scoring.hourlyTeamScore(events.select(col("team"), col("score"), col("timestamp"), col("event_time"))).cache()
    totals.write.format("noop").mode("overwrite").save()
    windowed.write.format("noop").mode("overwrite").save()
    val textS = med3("TextSink.write") { i =>
      TextSink.write(
        TextSink.formatRows(totals, Seq("total_score" -> col("total_score"), "user" -> col("key"))),
        ctx.dir(s"probe/text-$i"))
    }
    val windowS = med3("TextSink.writeOneFilePerWindow") { i =>
      TextSink.writeOneFilePerWindow(
        windowed,
        concat(lit("total_score: "), col("total_score"), lit(", team: "), col("team")),
        ctx.dir(s"probe/window-$i"),
        prefix = "team-scores")
    }
    res.put("sinks.text_write_s", textS, "s")
    res.put("sinks.window_write_s", windowS, "s")
    res.put("sinks.files_written",
      (Io.dataFiles(ctx.dir("probe/text-0")).size + Io.dataFiles(ctx.dir("probe/window-0")).size).toDouble, "count")
    Seq(events, totals, windowed).foreach(_.unpersist())
  }

  /** The per-user totals, the per-(team, window) totals and graft's
    * dropped-line count must equal the generator's own fold.
    */
  def checkOutputs(ctx: Ctx, expect: Gen.BatchExpect, out: String): Unit = {
    val res = ctx.res
    val users = Io.kvLines(s"$out/user", "user")
    res.check(users == expect.users, s"user totals differ: ${Io.diff(users, expect.users)}")
    val windows = scala.collection.mutable.HashMap.empty[(Long, String), Long]
    for (f <- Io.dataFiles(s"$out/hourly")) {
      val name = f.getFileName.toString
      val ws = Io.parsePstLabel(name.stripPrefix("team-scores-").take(23))
      for ((team, total) <- Io.kvFile(f, "team"))
        windows.update((ws, team), windows.getOrElse((ws, team), 0L) + total)
    }
    res.check(windows == expect.teamWindows, s"team-window totals differ: ${Io.diff(windows, expect.teamWindows)}")
    val errs = Io.parseErrors(ctx)
    res.check(errs.nonEmpty && errs.forall(_ == expect.malformed),
      s"dropped lines ${errs.mkString(",")} != ${expect.malformed}")
    ctx.queries.observed.clear()
  }
}

object Io {
  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }
  }

  /** Visible files under a directory tree (Spark's `_SUCCESS` and hidden
    * checksum files left out).
    */
  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f))
      .filter { f => val n = f.getFileName.toString; !n.startsWith("_") && !n.startsWith(".") }
      .toSeq
  }

  /** Lines `total_score: N, <key>: K` as K -> N. */
  def kvFile(f: Path, key: String): Iterator[(String, Long)] =
    Files.readAllLines(f).asScala.iterator.filter(_.nonEmpty).map { line =>
      val Array(score, k) = line.split(", ", 2)
      require(score.startsWith("total_score: ") && k.startsWith(s"$key: "), s"unexpected line '$line'")
      k.stripPrefix(s"$key: ") -> score.stripPrefix("total_score: ").toLong
    }

  def kvLines(dir: String, key: String): Map[String, Long] =
    dataFiles(dir).iterator.flatMap(kvFile(_, key)).toMap

  private val PstLabel = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd-HH-mm-ss-SSS")
    .withZone(java.time.ZoneId.of("America/Los_Angeles"))

  def parsePstLabel(s: String): Long = java.time.ZonedDateTime.parse(s, PstLabel).toInstant.toEpochMilli

  /** `parse_errors` of every `parse` observation seen since the last clear. */
  def parseErrors(ctx: Ctx): Seq[Long] =
    ctx.queries.observed.asScala.collect { case ("parse", row) => row.getAs[Long]("parse_errors") }.toSeq

  def diff[K](got: collection.Map[K, Long], want: collection.Map[K, Long]): String = {
    val bad = (got.keySet ++ want.keySet).iterator.filter(k => got.get(k) != want.get(k)).take(3)
    s"${got.size} vs ${want.size} keys; e.g. " + bad.map(k => s"$k: ${got.get(k)} vs ${want.get(k)}").mkString("; ")
  }
}
