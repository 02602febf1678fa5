package graft

/** Time a single registered query: `runMain graft.BenchOne <name> [sfDir] [reps]`.
  * Session from [[Bench.session]]; prints one line per rep plus the min —
  * the tight loop for optimizing one query without paying the full suite.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env
      .getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = Bench.session(cpus)
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).groupBy().count().collect()
    // comma-separated names run in order inside ONE JVM — the harness for
    // checking shared-leg reuse across a query family
    for (q <- name.split(',')) {
      val fn = SparkEntry.queries(q)
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"BENCHONE $q rep$i: $t%.3f s ($n rows)")
        t
      }
      println(f"BENCHONE $q min: ${times.min}%.3f s")
    }
    spark.stop()
  }
}
