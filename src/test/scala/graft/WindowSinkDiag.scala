package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Scoring
import graft.sinks.TextSink

/** How `TextSink.writeOneFilePerWindow` grows with the window count. For
  * each count, 150,000 events over 15 teams spread evenly over that many
  * hours go through `Scoring.hourlyTeamScore` (60-minute windows); the
  * aggregate is checkpointed first, so only the write is timed. Counts are
  * interleaved round by round, in a rotated order, so machine drift lands
  * on each of them alike; round 1 warms the JVM and is not reported.
  *
  * Prints one line per window count: windows, files written, the median
  * write time over the reported rounds, and that time per window.
  *
  * Run: `Test/runMain graft.WindowSinkDiag [windowCounts] [rounds]`
  * (defaults 13,50,101 6; cores from `$SPARK_GRAFT_CPUS`, default 4).
  */
object WindowSinkDiag {
  private val Events = 150_000L
  private val T0 = 1_700_000_000_000L / 3_600_000L * 3_600_000L

  /** The hourly team totals of `windows` hours of events, materialized. */
  private def hourly(spark: SparkSession, windows: Int): DataFrame = {
    val gapMs = windows * 3_600_000L / Events
    val events = spark.range(Events).select(
      concat(lit("user"), (col("id") % 500).cast("string")).as("user"),
      concat(lit("Team"), (col("id") % 15).cast("string")).as("team"),
      pmod(xxhash64(col("id")), lit(20)).cast("int").as("score"),
      (lit(T0) + col("id") * gapMs).as("timestamp")
    ).withColumn("event_time", timestamp_millis(col("timestamp")))
    Scoring.hourlyTeamScore(events, 60).localCheckpoint(eager = true)
  }

  /** Wall ms of one write into a fresh directory, and the files it left. */
  private def timedWrite(windowed: DataFrame): (Double, Int) = {
    val out = java.nio.file.Files.createTempDirectory("window-sink-diag").toFile
    try {
      val t0 = System.nanoTime()
      TextSink.writeOneFilePerWindow(
        windowed,
        concat(lit("team: "), col("team"), lit(", total_score: "), col("total_score")),
        out.getPath,
        prefix = "team-scores")
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, out.listFiles().count(f => !f.getName.startsWith(".")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out)
  }

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  def main(args: Array[String]): Unit = {
    val counts = args.lift(0).map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(13, 50, 101))
    val rounds = args.lift(1).map(_.toInt).getOrElse(6)
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val spark = GraftSession.local(cores = cores, appName = "window-sink-diag")
    try {
      val frames = counts.map(n => n -> hourly(spark, n)).toMap
      val runs = for {
        round <- 1 to rounds
        i <- counts.indices
        n = counts((i + round) % counts.length)
      } yield {
        val (ms, files) = timedWrite(frames(n))
        System.err.println(f"round $round: $n windows, $files files: $ms%.0f ms")
        (round, n, ms, files)
      }
      println("windows | files | write ms (median) | ms per window")
      for (n <- counts) {
        val rs = runs.filter(r => r._1 > 1 && r._2 == n)
        val ms = median(rs.map(_._3))
        println(f"$n | ${rs.map(_._4).max} | $ms%.0f | ${ms / n}%.1f  (per round: ${rs.map(r => f"${r._3}%.0f").mkString(", ")})")
      }
    } finally spark.stop()
  }
}
