package graft
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query cost breakdown: `runMain graft.ProfileOne <name>[,name...] [sfDir] [reps]`.
  * Session from [[GraftSession.local]], the one factory `Bench` uses too
  * (graft's extensions, RocksDB state, the bench's cores and AQE
  * settings). For each rep prints: DataFrame build
  * wall (Catalyst construction + any eager localCheckpoint jobs that fire
  * inside the registration), count() wall, and the listener totals (jobs,
  * stages, tasks, summed task time) attributable to the rep — the numbers
  * that separate scheduling overhead from actual compute when deciding
  * what to optimize (guide §1).
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',')
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).groupBy().count().collect()
    for (q <- names) {
      val fn = SparkEntry.queries(q)
      for (i <- 1 to reps) {
        Thread.sleep(200) // let listener queue drain between reps
        val (j0, s0, t0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
        val b0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val b1 = System.nanoTime()
        val n = df.count()
        val b2 = System.nanoTime()
        Thread.sleep(300)
        println(f"PROFILE $q rep$i: build=${(b1 - b0) / 1e9}%.3f s count=${(b2 - b1) / 1e9}%.3f s " +
          f"jobs=${jobs.get - j0} stages=${stages.get - s0} tasks=${tasks.get - t0} " +
          f"taskTime=${(taskMs.get - m0) / 1e3}%.1f s rows=$n")
      }
    }
    spark.stop()
  }
}
