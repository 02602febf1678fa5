package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query subset (local iteration);
    // the driver's 2-arg call runs everything.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, subs) => (s, o, Some(subs.split(',').toSet))
    }
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Dump queries CONCURRENTLY (default 6 in flight): at sf0.01 most
    // queries are job-scheduling-bound, not CPU-bound, so a serial dump
    // wastes the executor — the round-8 driver gate went dark on total
    // correctness-phase cost, and wall time here is part of that budget.
    // Spark supports concurrent actions on one session; each query still
    // fails independently. SPARK_GRAFT_VERIFY_PAR=1 restores serial.
    // malformed env value falls back to the default instead of aborting
    // the whole dump with a NumberFormatException before any query runs
    val par = sys.env.get("SPARK_GRAFT_VERIFY_PAR")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(6)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(par, 1))
    // shut the pool down on EVERY exit path: its threads are non-daemon,
    // so an unexpected throw from Await would otherwise hang the JVM
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val work = SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          scala.concurrent.Future {
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
          }
        }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(work),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
