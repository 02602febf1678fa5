package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Per-query time emission, harness `min2-v5`: fixed-width base36
    * DECISECONDS, 2 chars per query, no separators, name-sorted query
    * order; "--" = failed both passes. Values saturate at 36²−1 = 1295
    * decis (129.5 s — 15× above the slowest current row). Replaces the
    * r8 `qcs36` 3-char centisecond grid (the BASELINE.md-recorded
    * compaction decision, executed round 15 before the 2000-byte
    * scorer tail binds): ceiling moves to ≈800 queries with resolution
    * still 10× finer than machine-state spread.
    */
  def qcs24(times: Seq[Option[Double]]): String =
    times.map {
      case Some(t) =>
        val ds = math.min(math.round(t * 10), 36L * 36 - 1)
        java.lang.Long.toString(ds, 36).reverse.padTo(2, '0').reverse
      case None => "--"
    }.mkString

  /** Decode a [[qcs24]] string back to per-query seconds (None =
    * failed; values are exact multiples of 0.1 up to the 129.5 cap).
    */
  def decodeQcs24(s: String): Seq[Option[Double]] = {
    require(s.length % 2 == 0, s"qcs24 length ${s.length} not even")
    s.grouped(2).map {
      case "--" => None
      case cs => Some(java.lang.Long.parseLong(cs, 36) / 10.0)
    }.toSeq
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env
      .getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = session(cpus)
    // Generic session warmup (untimed): first-touch costs — parquet reader
    // init, codegen/janino compile, shuffle machinery — belong to the JVM,
    // not to whichever query happens to run first.
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).groupBy().count().collect()
    // Name-sorted: deterministic execution order keeps per-query numbers
    // comparable across rounds (warmup effects land on the same queries).
    // Each query runs TWICE (two full name-sorted passes, so pass-2 timings
    // see a uniformly warm JVM) and reports the min: driver-side rounds have
    // shown up to 6× one-off noise (GC, page-cache misses, codegen compiles
    // landing mid-query) that a single sample can't distinguish from a real
    // plan regression.
    // Streaming leg, reading 1 of 2: BEFORE the batch passes. The r10
    // driver artifact read 5,676 ev/s where the same-day standalone runs
    // read 11,025-13,405 — the single in-bench reading was the only
    // headline metric without min/max-over-2 noise protection (VERDICT
    // r10 #2). Two readings bracket the batch suite (one on the
    // warmed-but-quiet JVM, one after 370 queries of page-cache/JIT
    // heat); the metric line reports the MAX (throughput: noise only
    // subtracts), and both raw readings ride the full JSON.
    val streamEvents = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "200000").toInt
    def streamReading(): Long =
      try StreamBench.measure(spark, streamEvents)._1.round
      catch { case _: Throwable => -1L }
    val streamEps1 = streamReading()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // A pass records a time ONLY for queries that ran to completion: a
    // transient failure must not contribute its (tiny) elapsed time to the
    // min, which would silently mask both the failure and the true duration.
    def pass(): Seq[(String, Option[Double])] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
    }
    val p1 = pass().toMap
    val p2 = pass()
    val results = p2.map { case (name, t2) =>
      name -> (p1(name).toSeq ++ t2.toSeq).sorted.headOption
    }
    val failed = results.collect { case (name, None) => name }
    def f3(v: Double): String = "%.3f".format(v)
    val total = results.flatMap(_._2).sum
    // Pass-1 (cold) total alongside the min-of-2 `value` (optimization
    // r16, VERDICT r15 #2a): a session-shared leg is built during pass 1
    // and free in pass 2, so the min-of-2 total reads as the WARM
    // marginal suite cost — `cold` keeps the one-time leg-build cost a
    // printed number instead of an inference. Timing methodology is
    // otherwise unchanged (same passes, same min; tag stays min2-v5).
    val coldTotal = p1.values.flatten.sum
    // Queries that failed in pass 1 add no time to `cold`; count them so a
    // smaller `cold` cannot hide a failure.
    val coldFailed = p1.values.count(_.isEmpty)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sfBase = new java.io.File(sfDir).getName
    // The scorer captures only the LAST 2000 bytes of output; a full
    // name->seconds map at 127+ queries is ~3.4 KB and truncates into an
    // unparseable line (rounds 4-5 shipped "parsed": null). So the printed
    // line carries per-query times as the fixed-width qcs24 string in
    // name-sorted order of SparkEntry.queries keys — the same deterministic
    // order the harness executes (2 bytes/query). Decode contract in
    // BASELINE.md and decodeQcs24; failed queries are "--" there and named
    // in `failed`. The full name->seconds map still exists for humans,
    // written as one JSON object to /tmp (path echoed in the line as
    // `full`).
    val resMap = results.toMap
    val qcs = qcs24(ordered.map { case (name, _) => resMap(name) })
    val fullMap = ordered
      .map { case (name, _) =>
        "\"" + name + "\":" + resMap(name).map(f3(_)).getOrElse("null")
      }
      .mkString("{", ",", "}")
    // Streaming leg, reading 2 of 2: AFTER the batch passes (the r9/r10
    // position). The BASELINE streaming gate is ≥2,000 events/s through
    // the LeaderBoard fan-out; 200k events keeps the added wall bounded
    // (override with SPARK_GRAFT_STREAM_EVENTS for soak runs).
    val streamEps2 = streamReading()
    val streamEps = math.max(streamEps1, streamEps2)
    // Streaming MEDIA leg (round 13): payloads/s through the perceptual-hash
    // chunk-claim protocol (ahashChunkClaims on RocksDB state). One reading,
    // taken on the fully warm JVM; 20k x 2 KB payloads keeps added wall ~sec.
    val mediaEvents = sys.env.getOrElse("SPARK_GRAFT_MEDIA_EVENTS", "20000").toInt
    val mediaEps =
      try StreamBench.measureMediaClaims(spark, mediaEvents)._1.round
      catch { case _: Throwable => -1L }
    val fullPath = s"/tmp/graft_bench_$sfBase.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(fullPath),
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","harness":"min2-v5","cold":${f3(coldTotal)},"cold_failed":$coldFailed,"stream_events_per_sec":$streamEps,"stream_eps_runs":[$streamEps1,$streamEps2],"media_payloads_per_sec":$mediaEps,"failed":$failedJson,"queries":$fullMap,"sf":"$sfDir"}"""
        .getBytes("UTF-8"))
    // harness id min2-v5: same min-over-successful-passes-of-2 batch
    // timing as v2/v3/v4 (totals comparable round-4+), qcs24 per-query
    // emission (2-char base36 deciseconds — see qcs24's scaladoc; the
    // tag bump exists so decoders cannot misread the old 3-char grid).
    // The max-of-2 streaming bracket (r11) is unchanged:
    // stream_events_per_sec is max(stream_eps_runs), readings taken
    // before and after the batch suite.
    //
    // The metric line must be the LAST thing on stdout (r4-r6 shipped
    // "parsed": null because shutdown log lines and sbt's "[success]"
    // postlude printed after it): stop Spark FIRST, silence every logger,
    // then print. build.sbt sets `showSuccess := false` so sbt adds no
    // trailing line of its own.
    spark.stop()
    org.apache.log4j.LogManager.getRootLogger.setLevel(org.apache.log4j.Level.OFF)
    System.err.flush()
    println(
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","harness":"min2-v5","cold":${f3(coldTotal)},"cold_failed":$coldFailed,"sf":"$sfBase","n":${ordered.size},"order":"name-sorted","stream_events_per_sec":$streamEps,"stream_eps_runs":[$streamEps1,$streamEps2],"media_payloads_per_sec":$mediaEps,"failed":$failedJson,"qcs24":"$qcs","full":"$fullPath"}"""
    )
    System.out.flush()
  }

  /** The bench session (also used by the BenchOne / ProfileOne dev
    * harnesses, so their timings compare with the suite's).
    */
  private[graft] def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
