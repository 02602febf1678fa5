package perfbench

import java.nio.file.Paths

/** `batch_suite`: graft's two batch users in one JVM. A round is one
  * gaming pass (UserScoreApp.run, then HourlyTeamScoreApp.run, over a seeded
  * CSV) followed by one pass over the listed curation queries
  * (`SparkEntry.queries`) over seeded parquet tables.
  *
  * Round 0 is the cold round: the first pass of both in the JVM, on a
  * fresh session with an empty warehouse, so shared legs and indexes are
  * built there. Then a fixed number of rounds is timed. Pass times still
  * fall in the first warm round while the JIT compiles; the medians over
  * the timed rounds leave it out. A traced run alternates traced and
  * untraced rounds and runs round 1 untimed, so that neither kind gets it.
  */
object BatchSuite {

  private final case class Round(
      gamingMs: Option[(Double, Double)],
      queries: Seq[Option[CurationSuite.QTime]],
      cpuS: Double,
      gamingUnit: Layers.SparkUnit,
      queryUnit: Layers.SparkUnit) {
    def complete: Boolean = gamingMs.isDefined && queries.forall(_.isDefined)
    /** Wall ms of each entry-point call: the two app runs, then each query. */
    def callsMs: Seq[Double] =
      Seq(gamingMs.get._1, gamingMs.get._2) ++ queries.map(q => Stats.millis(q.get.totalNs))
    def wallS: Double = callsMs.sum / 1e3
  }

  def run(ctx: Ctx): Unit = {
    val csv = ctx.dir("input/events.csv")
    val data = ctx.dir("data")
    val expect = ctx.setup(repeats = 4) { spark =>
      val e = Gen.gamingCsv(ctx.seed, Paths.get(csv), GamingBatch.Events, GamingBatch.Hours)
      CurationSuite.writeTables(spark, ctx.seed, data)
      e
    }
    val res = ctx.res

    def round(k: Int): Round = {
      val cpu0 = Jvm.workCpuNs()
      val (g, gu) = Layers.measure(ctx)(GamingBatch.pass(ctx, csv, k))
      val oracle = if (k == 0) Some((n: String) => ctx.dir(s"oracle/$n")) else None
      val (q, qu) = Layers.measure(ctx)(CurationSuite.pass(ctx, data, s"pass $k", oracle))
      val r = Round(g, q, Stats.secs(Jvm.workCpuNs() - cpu0), gu, qu)
      System.err.println(f"round $k: cpu ${r.cpuS}%.2f s, gaming ${g.map { case (u, h) => f"$u%.0f+$h%.0f ms" }.getOrElse("FAILED")}, " +
        CurationSuite.Queries.zip(q).map { case (n, t) =>
          s"$n=${t.map(x => f"${x.totalNs / 1e6}%.0f").getOrElse("FAILED")}" }.mkString(" "))
      r
    }

    ctx.queries.observed.clear()
    val cold = round(0)
    Main.phase("cold round done")
    GamingBatch.checkOutputs(ctx, expect, ctx.dir("out/pass-0"))
    val first = if (ctx.traced) { round(1); 2 } else 1
    val timed = (first until first + ctx.rounds(roundS = 2.5, min = 4)).map { k =>
      ctx.tracing(on = k % 2 == 0)
      (k, round(k))
    }
    ctx.tracing(on = true)
    GamingBatch.checkOutputs(ctx, expect, ctx.dir(s"out/pass-${timed.last._1}"))
    // The timed passes send their results to a no-op sink; one more,
    // untimed warm pass writes them out, so the warm path (memoized shared
    // legs) is checked against the oracle as well as the cold one.
    val check = CurationSuite.pass(ctx, data, "check pass", Some(n => ctx.dir(s"oracle/$n-warm")))
    for ((name, i) <- CurationSuite.Queries.zipWithIndex) {
      val sql = graft.SparkEntry.oracleSql(name)
      if (cold.queries(i).isDefined) res.oracle += ((s"$name (cold)", ctx.dir(s"oracle/$name"), sql))
      if (check(i).isDefined) res.oracle += ((s"$name (warm)", ctx.dir(s"oracle/$name-warm"), sql))
    }

    // A round in which anything threw is counted in `failed` and adds no
    // time to any metric.
    require(cold.complete, "the cold round did not complete")
    val complete = timed.filter(_._2.complete)
    require(complete.nonEmpty, "no timed round completed")
    val rounds = complete.map(_._2)

    if (!ctx.traced) {
      res.put("cold_s", cold.wallS, "s")
      // Each entry-point call's median over the timed rounds: warm_s is
      // their sum, the gaming pass the sum of the first two (the app
      // runs), latency_p50_ms the median of these six latencies.
      val calls = rounds.head.callsMs.indices.map(i => Stats.median(rounds.map(_.callsMs(i))))
      res.put("warm_s", calls.sum / 1e3, "s")
      res.put("throughput_per_s", GamingBatch.Events / ((calls(0) + calls(1)) / 1e3), "1/s")
      res.put("latency_p50_ms", Stats.median(calls), "ms")
      res.put("cpu_s", Stats.median(rounds.map(_.cpuS)), "s")
      res.put("heap_live_mb", Jvm.liveHeapMb(), "MB")
    } else {
      val (tracedR, plainR) = complete.partition(_._1 % 2 == 0)
      res.put("trace.overhead_pct",
        100 * (Stats.median(tracedR.map(_._2.wallS)) / Stats.median(plainR.map(_._2.wallS)) - 1), "%")
      Layers.putSpark(res, tracedR.map(r => r._2.gamingUnit + r._2.queryUnit))
      CurationSuite.registryLayers(res, cold.queries.map(_.get), rounds.map(_.queries.map(_.get)),
        Stats.median(tracedR.map(_._2.queryUnit.jobs.toDouble)))
      GamingBatch.layers(ctx, csv, expect)
      CurationSuite.kernels(ctx, data)
    }
  }
}
