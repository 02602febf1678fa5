package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.apps.LeaderBoardApp
import graft.ops.Parse

/** `leaderboard_stream`: LeaderBoardApp.start with both branches, parquet
  * appends and a trigger interval of 0, fed by one closed-loop client: it
  * adds a fixed-size batch of CSV lines to an in-memory source, waits
  * until both queries have committed it, and repeats.
  *
  * The query pair's first batch is a large backfill that gives the
  * running-totals state about 30,000 keys before timing starts; it and the
  * next warm-up batches are the cold phase. A fixed number of batches is
  * then timed.
  */
object LeaderboardStream {
  val BatchSize = 1000
  val Backfill = 30000
  val WarmBatches = 5

  private final class Pair(val input: MemoryStream[String], val queries: Seq[StreamingQuery]) {
    def stop(): Unit = queries.foreach(q => scala.util.Try(q.stop()))
  }

  private def startPair(spark: SparkSession, out: String): Pair = {
    val input = MemoryStream[String](Encoders.STRING, spark.sqlContext)
    val parsed = Parse.parseGameEvents(input.toDF())
      .select(col("user"), col("team"), col("score"), col("timestamp"), col("event_time"))
    new Pair(input, LeaderBoardApp.start(parsed, out, triggerMillis = 0L))
  }

  /** Adds one batch and waits until both queries have committed it.
    * Returns, per query, the ms from the add to that query's commit (its
    * `lastProgress` covering the added offset).
    */
  private def feed(ctx: Ctx, pair: Pair, batch: Array[String]): Seq[Double] = {
    val t0 = System.nanoTime()
    val off = ctx.tracer.span("MemoryStream.addData")(pair.input.addData(batch.toSeq)).json.toLong
    val done = Array.fill(pair.queries.length)(-1.0)
    while (done.contains(-1.0)) {
      for ((q, i) <- pair.queries.zipWithIndex if done(i) < 0) {
        q.exception.foreach(e => throw e)
        val p = q.lastProgress
        if (p != null && p.sources.nonEmpty && Option(p.sources.head.endOffset).exists(_.toLong >= off))
          done(i) = Stats.millis(System.nanoTime() - t0)
      }
      if (done.contains(-1.0)) Thread.sleep(1)
    }
    done.toSeq
  }

  def run(ctx: Ctx): Unit = {
    val timed = ctx.rounds(roundS = 0.72, min = 14)
    // A stream set-up is about 0.2 s, so it is repeated more often.
    val in = ctx.setup(repeats = 12) { _ =>
      Gen.leaderboard(ctx.seed, Backfill +: Seq.fill(WarmBatches + timed)(BatchSize))
    }
    val spark = ctx.spark
    val res = ctx.res
    val (coldBatches, timedBatches) = in.batches.toSeq.splitAt(1 + WarmBatches)

    val out = ctx.dir("out")
    val pair = startPair(spark, out)
    val (coldS, lat, wallS, cpuS, heapMb) = try {
      val coldT0 = System.nanoTime()
      val coldOk = coldBatches.forall(b => res.attempt("warm-up batch")(feed(ctx, pair, b)).isDefined)
      val coldS = Stats.secs(System.nanoTime() - coldT0)
      require(coldOk, "a warm-up batch failed")
      Main.phase("warm-up done")
      ctx.progress.progress.clear()
      ctx.queries.writes.clear()
      // In a traced run the Spark counters are attached on every second
      // batch only, so traced and untraced batches interleave.
      val cpu0 = Jvm.workCpuNs()
      val t0 = System.nanoTime()
      val lat = timedBatches.zipWithIndex.map { case (b, i) =>
        ctx.tracing(on = i % 2 == 1)
        Layers.measure(ctx)(res.attempt("batch")(feed(ctx, pair, b)))
      }
      val (wallS, cpuS) = (Stats.secs(System.nanoTime() - t0), Stats.secs(Jvm.workCpuNs() - cpu0))
      ctx.tracing(on = true)
      // Live heap while both queries still run, their state stores loaded:
      // once they stop, Spark unloads the stores at a time of its own.
      (coldS, lat, wallS, cpuS, if (ctx.traced) 0.0 else Jvm.liveHeapMb())
    } finally pair.stop()
    Main.phase("window done")
    System.err.println("timed batches (ms to each query's commit): " +
      lat.map(_._1.map(_.map(x => f"$x%.0f").mkString("/")).getOrElse("FAILED")).mkString(" "))
    check(ctx, in, out)
    // A batch that threw is counted in `failed` and adds no time.
    require(lat.forall(_._1.isDefined), "a batch failed; no complete window to time")

    if (!ctx.traced) {
      res.put("cold_s", coldS, "s")
      res.put("warm_s", wallS, "s")
      res.put("throughput_per_s", timed.toLong * BatchSize / wallS, "1/s")
      res.put("latency_p50_ms", Stats.median(lat.map(_._1.get.max)), "ms")
      res.put("cpu_s", cpuS, "s")
      res.put("heap_live_mb", heapMb, "MB")
    } else {
      def perBatch(odd: Int) = Stats.median(lat.zipWithIndex.filter(_._2 % 2 == odd).map(_._1._1.get.max))
      res.put("trace.overhead_pct", 100 * (perBatch(1) / perBatch(0) - 1), "%")
      Layers.putSpark(res, lat.zipWithIndex.filter(_._2 % 2 == 1).map(_._1._2))
      layers(ctx, timed)
    }
  }

  private def layers(ctx: Ctx, timed: Int): Unit = {
    val res = ctx.res
    Thread.sleep(200) // the last progress events are posted asynchronously
    val data = Seq("leaderboard_team", "leaderboard_user")
      .flatMap(ctx.progress.of).filter(_.numInputRows > 0)
    def dur(key: String) = Stats.median(data.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    res.put("stream.trigger_ms", dur("triggerExecution"), "ms")
    res.put("stream.add_batch_ms", dur("addBatch"), "ms")
    res.put("stream.planning_ms", dur("queryPlanning"), "ms")
    res.put("stream.wal_commit_ms", dur("walCommit"), "ms")
    res.put("stream.commit_offsets_ms", dur("commitOffsets"), "ms")
    val ops = data.flatMap(_.stateOperators)
    res.put("state.commit_ms", Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms")
    res.put("state.rows_updated", Stats.median(ops.map(_.numRowsUpdated.toDouble)), "count")
    val lastOf = Seq("leaderboard_team", "leaderboard_user").flatMap(n => ctx.progress.of(n).lastOption)
    res.put("state.rows_total", lastOf.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble, "count")
    res.put("state.memory_mb", lastOf.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum / (1024.0 * 1024.0), "MB")
    res.put("state.dropped_late_rows",
      ctx.progress.of("leaderboard_team").flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    res.put("source.add_ms", Stats.median(ctx.tracer.durations("MemoryStream.addData").takeRight(timed)), "ms")
    val appends = ctx.queries.writes.asScala.collect { case (p, ms) if p.contains("leaderboard_") => ms }.toSeq
    if (appends.nonEmpty) res.put("sinks.append_ms", Stats.median(appends), "ms")
  }

  /** A timestamp column of a row as a sortable key. */
  private def at(r: Row, i: Int): (Long, Int) = { val t = r.getTimestamp(i); (t.getTime, t.getNanos) }

  /** User totals: the last total each user was emitted with equals the fold
    * over every well-formed row (too-late ones included), and no user's
    * total ever falls from one batch to the next. Team totals: the last
    * total of each (team, window) equals the fold without the too-late
    * rows.
    */
  private def check(ctx: Ctx, in: Gen.StreamInput, out: String): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val byUser = spark.read.parquet(s"$out/leaderboard_user")
      .select(col("user"), col("total_score"), col("processing_time")).collect()
      .groupBy(_.getString(0)).map { case (u, rs) => u -> rs.sortBy(at(_, 2)).map(_.getLong(1)) }
    val finalUsers = byUser.map { case (u, totals) => u -> totals.last }
    res.check(finalUsers == in.users, s"user totals differ: ${Io.diff(finalUsers, in.users)}")
    val falling = byUser.count { case (_, t) => t.zip(t.drop(1)).exists { case (a, b) => b < a } }
    res.check(falling == 0, s"$falling users' emitted totals decreased")
    val finalTeams = spark.read.parquet(s"$out/leaderboard_team")
      .select(col("window_start"), col("team"), col("total_score"), col("processing_time")).collect()
      .groupBy(r => (r.getTimestamp(0).getTime, r.getString(1)))
      .map { case (k, rs) => k -> rs.maxBy(at(_, 3)).getLong(2) }
    res.check(finalTeams == in.teamWindows, s"team-window totals differ: ${Io.diff(finalTeams, in.teamWindows)}")
  }
}
