package perfbench

/** The per-layer metrics of a traced run, and the Spark-level counters
  * sampled around one measured unit of work (a warm pass, or a stream's
  * timed window).
  */
object Layers {

  /** Every per-layer metric, in BENCHMARK.json order. A layer that a
    * workload never calls reads 0 there.
    */
  def all: Seq[(String, String)] = Seq(
    "session.create_s" -> "s",
    "parse.rows_per_s" -> "1/s",
    "parse.dropped_rows" -> "count",
    "scoring.user_s" -> "s",
    "scoring.hourly_s" -> "s",
    "sinks.text_write_s" -> "s",
    "sinks.window_write_s" -> "s",
    "sinks.files_written" -> "count",
    "sinks.append_ms" -> "ms",
    "stream.trigger_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms",
    "state.commit_ms" -> "ms",
    "state.rows_total" -> "count",
    "state.rows_updated" -> "count",
    "state.memory_mb" -> "MB",
    "state.dropped_late_rows" -> "count",
    "source.add_ms" -> "ms",
    "registry.build_s" -> "s",
    "registry.exec_s" -> "s",
    "registry.legs_s" -> "s",
    "registry.jobs_per_query" -> "count",
  ) ++ CurationSuite.Queries.flatMap { q =>
    Seq(s"query.$q.cold_ms" -> "ms", s"query.$q.warm_ms" -> "ms")
  } ++ CurationSuite.Kernels.map { case (k, _, _) => s"functions.$k.rows_per_s" -> "1/s" } ++ Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "driver.plan_s" -> "s",
    "driver.no_task_s" -> "s",
    "jvm.jit_s" -> "s",
    "jvm.gc_s" -> "s",
    "trace.overhead_pct" -> "%",
  )

  def fillUnused(res: Result): Unit =
    for ((name, unit) <- all if !res.metrics.contains(name)) res.put(name, 0.0, unit)

  final case class SparkUnit(
      jobs: Long, stages: Long, tasks: Long, taskS: Double, shuffleMb: Double, spillMb: Double,
      planS: Double, noTaskS: Double) {
    def +(o: SparkUnit): SparkUnit = SparkUnit(
      jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskS + o.taskS, shuffleMb + o.shuffleMb,
      spillMb + o.spillMb, planS + o.planS, noTaskS + o.noTaskS)
  }

  /** Runs `body` and reports what the Spark counters saw during it. The
    * counters only move while they are attached (traced passes).
    */
  def measure[T](ctx: Ctx)(body: => T): (T, SparkUnit) = {
    val c0 = ctx.counters.snap()
    val p0 = ctx.queries.planMs.get
    val t0 = System.currentTimeMillis()
    val out = body
    val t1 = System.currentTimeMillis()
    // Listener events arrive asynchronously; let the bus drain first.
    if (ctx.traced) Thread.sleep(50)
    val c1 = ctx.counters.snap()
    val mb = 1024.0 * 1024.0
    (out, SparkUnit(
      c1.jobs - c0.jobs, c1.stages - c0.stages, c1.tasks - c0.tasks,
      (c1.taskRunMs - c0.taskRunMs) / 1e3, (c1.shuffleWrite - c0.shuffleWrite) / mb,
      (c1.spill - c0.spill) / mb, (ctx.queries.planMs.get - p0) / 1e3,
      ctx.counters.idleMs(t0, t1) / 1e3))
  }

  /** Medians over the traced units. */
  def putSpark(res: Result, units: Seq[SparkUnit]): Unit = if (units.nonEmpty) {
    def med(f: SparkUnit => Double) = Stats.median(units.map(f))
    res.put("spark.jobs", med(_.jobs.toDouble), "count")
    res.put("spark.stages", med(_.stages.toDouble), "count")
    res.put("spark.tasks", med(_.tasks.toDouble), "count")
    res.put("spark.task_s", med(_.taskS), "s")
    res.put("spark.shuffle_write_mb", med(_.shuffleMb), "MB")
    res.put("spark.spill_mb", med(_.spillMb), "MB")
    res.put("driver.plan_s", med(_.planS), "s")
    res.put("driver.no_task_s", med(_.noTaskS), "s")
  }
}
