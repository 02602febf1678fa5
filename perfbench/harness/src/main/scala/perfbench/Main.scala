package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one run reports: operation counts, the correctness verdict and
  * the metrics by name. Written as one JSON object for run.py.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  var correct = true
  val errors = mutable.ArrayBuffer.empty[String]
  /** (query name, parquet dir of its result, oracle SQL) for the DuckDB check. */
  val oracle = mutable.ArrayBuffer.empty[(String, String, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { correct = false; if (errors.length < 20) errors += what }

  /** Runs one operation; a throw is counted as failed and returns None. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        if (errors.length < 20) errors += s"$what: ${e.toString.take(300)}"
        None
    }
  }

  def toJson: String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val m = metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{${str("value")}:${if (v.isNaN || v.isInfinite) "null" else v.toString},${str("unit")}:${str(u)}}"
    }.mkString("{", ",", "}")
    val o = oracle.map { case (n, d, sql) => s"[${str(n)},${str(d)},${str(sql)}]" }.mkString("[", ",", "]")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$m,"errors":${errors.map(str).mkString("[", ",", "]")},"oracle":$o}"""
  }
}

/** Everything a workload needs: its arguments, its own directories, the
  * tracer and the result it fills in.
  */
final class Ctx(
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val cores: Int,
    val work: Path,
    val res: Result) {
  val tracer = new Tracer(traced)
  val queries = new QueryClock
  val progress = new ProgressLog
  val counters = new SparkCounters
  private var spark0: SparkSession = _
  var setupS: Seq[Double] = Nil
  var sessionS: Seq[Double] = Nil

  def spark: SparkSession = spark0

  /** The fixed number of timed rounds for this run's `--seconds`: one per
    * `roundS` seconds, at least `min`. The count depends only on the
    * arguments, so every run of the same arguments does the same work.
    * A traced run alternates traced and untraced rounds and needs at least
    * two of each.
    */
  def rounds(roundS: Double, min: Int): Int =
    math.max(if (traced) math.max(min, 4) else min, math.ceil(seconds / roundS).toInt)

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Set-up, done `repeats` times: a session from graft's own factory,
    * then the workload's input generation. The last session is kept and
    * gets the benchmark's listeners. The first set-up of a JVM also loads
    * Spark's classes and is left out of the reported median.
    */
  def setup[T](repeats: Int)(gen: SparkSession => T): T = {
    var out: Option[T] = None
    val total = mutable.ArrayBuffer.empty[Double]
    val sess = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until repeats) {
      if (spark0 != null) spark0.stop()
      val t0 = System.nanoTime()
      spark0 = tracer.span("GraftSession.local")(GraftSession.local(cores = cores, appName = s"perfbench-$workload"))
      val t1 = System.nanoTime()
      out = Some(tracer.span("generate")(gen(spark0)))
      total += Stats.secs(System.nanoTime() - t0)
      sess += Stats.secs(t1 - t0)
    }
    setupS = total.toSeq.tail
    sessionS = sess.toSeq.tail
    System.err.println("set-ups (s): " + total.map(x => f"$x%.3f").mkString(" ") +
      "; sessions (s): " + sess.map(x => f"$x%.3f").mkString(" "))
    spark0.listenerManager.register(queries)
    spark0.streams.addListener(progress)
    if (traced) spark0.sparkContext.addSparkListener(counters)
    Main.phase("setup done")
    out.get
  }

  /** Detaches (or re-attaches) the traced counters, so traced and untraced
    * passes can alternate inside a traced run to measure tracing overhead.
    */
  def tracing(on: Boolean): Unit =
    if (traced) {
      spark0.sparkContext.removeSparkListener(counters)
      if (on) spark0.sparkContext.addSparkListener(counters)
    }

  def stop(): Unit = if (spark0 != null) { spark0.stop(); spark0 = null }
}

object Main {
  /** Logs a phase boundary with the seconds since the JVM started. */
  def phase(name: String): Unit = System.err.println(
    f"[phase] $name at ${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    // Every run gets its own warehouse and scratch space; nothing is read
    // from or left in the repository's spark-warehouse/.
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    val ctx = new Ctx(
      a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("cores").toInt, work, new Result)
    val run: Ctx => Unit = ctx.workload match {
      case "batch_suite" => BatchSuite.run
      case "leaderboard_stream" => LeaderboardStream.run
      case other => sys.error(s"unknown workload $other")
    }
    try {
      phase("start")
      run(ctx)
      phase("workload done")
      val setup = ctx.setupS
      if (ctx.traced) {
        ctx.res.put("session.create_s", Stats.median(ctx.sessionS), "s")
        ctx.res.put("jvm.jit_s", Jvm.jitMs() / 1e3, "s")
        ctx.res.put("jvm.gc_s", Jvm.gcMs() / 1e3, "s")
        Layers.fillUnused(ctx.res)
      } else {
        ctx.res.put("setup_s", Stats.median(setup), "s")
      }
    } finally ctx.stop()
    phase("stopped")
    a.get("spans").foreach(p => ctx.tracer.write(Paths.get(p)))
    Files.write(Paths.get(a("out")), ctx.res.toJson.getBytes("UTF-8"))
  }
}
