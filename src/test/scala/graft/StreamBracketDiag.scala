package graft

/** Diagnostic for the in-bench streaming bracket collapse (VERDICT r14 #5):
  * both r13 and r14 read the SECOND `StreamBench.measure` at ~⅓ of the
  * first ([7,684, 3,251], [11,040, 4,063]) — same code, same process,
  * reading 2 taken after the full batch suite. Hypotheses:
  *
  *   (a) pinned-block pressure — the sharedLeg/sharedState memos hold
  *       every localCheckpointed leg for the app lifetime, so by reading
  *       2 the BlockManager carries the whole bench's checkpoint blocks
  *       and each micro-batch pays bigger GC;
  *   (b) accumulated session state (status-store entries, temp views,
  *       listener backlog) raising per-micro-batch fixed cost;
  *   (c) inherent loaded-machine state that no cleanup recovers.
  *
  * Protocol: reading A on the warm-but-quiet JVM → one full batch pass
  * (the bench's own suite at the given SF) → reading B (the collapsed
  * position) → targeted cleanup (unpersist all RDDs incl. checkpoint
  * blocks, clear cache, drop temp views, System.gc()) → reading C.
  * C ≈ A ⇒ (a)/(b) and the cleanup is the fix; C ≈ B ⇒ (c), document.
  * Run: `Test/runMain graft.StreamBracketDiag [sfDir] [events]`.
  */
object StreamBracketDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(100000)
    val spark = GraftSession.local()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).groupBy().count().collect()

    def reading(tag: String): Long = {
      val eps = StreamBench.measure(spark, n)._1.round
      val mem = Runtime.getRuntime
      val usedMb = (mem.totalMemory() - mem.freeMemory()) >> 20
      val pinned = spark.sparkContext.getPersistentRDDs.size
      println(s"DIAG reading=$tag eps=$eps heapUsedMb=$usedMb pinnedRdds=$pinned")
      eps
    }

    val a = reading("A_quiet")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      scala.util.Try(fn(spark, sfDir).count())
    }
    val b = reading("B_after_batch")
    // targeted cleanup: release every pinned block the memos hold
    spark.sparkContext.getPersistentRDDs.values.foreach(r => scala.util.Try(r.unpersist(true)))
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) scala.util.Try(spark.catalog.dropTempView(t.name))
    }
    System.gc()
    Thread.sleep(1000)
    val c = reading("C_after_cleanup")
    println(s"""DIAG_SUMMARY {"a":$a,"b":$b,"c":$c,"b_over_a":${"%.2f".format(
        b.toDouble / a)},"c_over_a":${"%.2f".format(c.toDouble / a)}}""")
    spark.stop()
  }
}
