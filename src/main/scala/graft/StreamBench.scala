package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.generator.{Injector, InjectorConfig}
import graft.ops.Parse
import graft.streaming.{LeaderBoardStream, StreamingDedup}
import graft.streaming.StatePartitions.withStatePartitions

/** Streaming throughput proof for the BASELINE gate: the reference's injector
  * sustains ~1,600-2,000 events/s into LeaderBoard (BASELINE.md); this drives
  * the full LeaderBoard-equivalent fan-out — CSV parse → (a) labeled
  * windowed team panes AND (b) global running user scores, both update-mode
  * — from a MemoryStream and reports end-to-end events/s.
  *
  * Two faces: [[measure]] (callable — Bench embeds the number in its metric
  * line so every round's BENCH artifact carries the streaming signal
  * machine-readably) and [[main]] (standalone, prints one JSON line
  * {"metric":"stream_events_per_sec",...}).
  */
object StreamBench {

  /** End-to-end events/s through the LeaderBoard fan-out on the given
    * session, both queries at the state partition count and store
    * [[graft.apps.LeaderBoardApp.start]] gives them. Returns
    * (eventsPerSec, distinctTeams, distinctUsers).
    */
  def measure(spark: SparkSession, n: Int, batches: Int = 10): (Double, Long, Long) = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val lines = Injector.generate(InjectorConfig(), n).map(_.line)

    val input = MemoryStream[String]
    val parsed = Parse
      .parseGameEvents(input.toDF())
      .select(col("user"), col("team"), col("score"), col("event_time"))
    // Stop the queries on EVERY exit path: Bench takes two bracketed
    // readings with the same sb_team/sb_user query names, so a query
    // leaked by a mid-run exception in reading 1 would make reading 2's
    // start() fail too — a transient pre-batch hiccup must not forfeit
    // the other reading (ADVICE r11).
    var started = List.empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      val (teamQ, userQ) = withStatePartitions(spark) {
        val teamQ = LeaderBoardStream
          .teamPanes(parsed, teamWindowMinutes = 60, allowedLatenessMinutes = 120)
          .writeStream.format("memory").queryName("sb_team").outputMode("update").start()
        started ::= teamQ
        val userQ = LeaderBoardStream
          .calculateUserScores(parsed)
          .writeStream.format("memory").queryName("sb_user").outputMode("update").start()
        started ::= userQ
        (teamQ, userQ)
      }

      // Warm both queries' plans with one tiny batch before timing.
      input.addData(lines.take(100))
      teamQ.processAllAvailable(); userQ.processAllAvailable()

      val t0 = System.nanoTime()
      val per = math.max(1, n / batches)
      lines.drop(100).grouped(per).foreach { b =>
        input.addData(b)
        teamQ.processAllAvailable()
        userQ.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val eps = (n - 100) / sec
      val teams = spark.table("sb_team").select("team").distinct().count()
      val users = spark.table("sb_user").select("user").distinct().count()
      (eps, teams, users)
    } finally started.foreach(q => scala.util.Try(q.stop()))
  }

  /** End-to-end payloads/s through the streaming MEDIA claim protocol
    * ([[graft.streaming.StreamingDedup.ahashChunkClaims]]): synthetic binary
    * payloads (seeded; ~1 in 4 an exact re-ingest of an earlier payload, so
    * the lose path is live) stream through perceptual-hash chunk claims on
    * RocksDB state. Each non-empty payload emits exactly `chunks` = 8 claim
    * rows per micro-batch (its 8 chunk keys carry distinct packed indexes),
    * so cumulative claim rows = 8 x payloads is the absorption signal
    * ([[measureClaims]]).
    *
    * Returns (payloadsPerSec, totalClaims, lostClaims).
    */
  def measureMediaClaims(
      spark: SparkSession,
      n: Int,
      batches: Int = 10,
      payloadBytes: Int = 2048,
      chunks: Int = 8
  ): (Double, Long, Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(1013L)
    // ~25% exact duplicates of a random earlier payload: dup claims LOSE
    // their buckets, exercising the protocol's hot path, not just inserts.
    val payloads = new scala.collection.mutable.ArrayBuffer[Array[Byte]](n)
    val events = (0 until n).map { i =>
      val p =
        if (i > 0 && rnd.nextInt(4) == 0) payloads(rnd.nextInt(payloads.length))
        else Array.tabulate[Byte](payloadBytes)(_ => rnd.nextInt(256).toByte)
      payloads += p
      (i.toLong, p)
    }
    measureClaims(spark, events, chunks, batches, "media") { df =>
      StreamingDedup.ahashChunkClaims(df.toDF("media_id", "content"), ttlMinutes = 60, chunks = chunks)
    }
  }

  /** Docs/s through the ingest-time near-dup TEXT claim filter, per
    * signature scheme ("kwise" = [[graft.streaming.StreamingDedup.bandClaims]],
    * 64 xxhash re-hashes per shingle; "oph" =
    * [[graft.streaming.StreamingDedup.ophBandClaims]], one hash per
    * shingle + densification): synthetic ~`docBytes`-char documents from
    * a seeded vocabulary, ~25% near-dup copies of an earlier doc with one
    * token swapped — the lose path exercised like the media legs. Each doc
    * emits exactly 16 band claims, so the await targets are exact
    * ([[measureClaims]]). An unknown scheme fails before any query starts.
    * Returns (docsPerSec, claims, lostClaims).
    */
  def measureTextClaims(
      spark: SparkSession,
      n: Int,
      scheme: String,
      batches: Int = 10,
      docBytes: Int = 2048
  ): (Double, Long, Long) = {
    import spark.implicits._
    val claimsOf: DataFrame => Dataset[StreamingDedup.BandClaim] = scheme match {
      case "kwise" => StreamingDedup.bandClaims(_, "doc_id", "text", ttlMinutes = 60)
      case "oph" => StreamingDedup.ophBandClaims(_, "doc_id", "text", ttlMinutes = 60)
      case other => throw new IllegalArgumentException(s"unknown scheme $other")
    }
    val rnd = new scala.util.Random(499L)
    val vocab = Array.tabulate(500)(i => s"tok$i")
    val texts = new scala.collection.mutable.ArrayBuffer[String](n)
    val docs = (0 until n).map { i =>
      val t =
        if (i > 0 && rnd.nextInt(4) == 0) {
          val base = texts(rnd.nextInt(texts.length)).split(' ')
          base(rnd.nextInt(base.length)) = vocab(rnd.nextInt(vocab.length))
          base.mkString(" ")
        } else {
          val sb = new StringBuilder
          while (sb.length < docBytes) {
            if (sb.nonEmpty) sb += ' '
            sb ++= vocab(rnd.nextInt(vocab.length))
          }
          sb.toString
        }
      texts += t
      (i.toLong, t)
    }
    measureClaims(spark, docs, claimsPerRow = 16, batches, "text") { df =>
      claimsOf(df.toDF("doc_id", "text"))
    }
  }

  /** MAP-SIDE band hashing alone, docs/s per scheme — the claims legs
    * above are state-store-bound (16 keyed claims per doc through
    * RocksDB dominate wall time), so the signature schemes measure equal
    * there; this leg isolates the per-document hashing CPU the OPH form
    * exists to cut (one xxhash per shingle + O(bins) densify vs 64
    * re-hashes per shingle). Pure map + count — no shuffle, no state;
    * one warm pass then the timed pass.
    */
  def measureBandHashing(
      spark: SparkSession,
      n: Int,
      scheme: String,
      docBytes: Int = 2048
  ): Double = {
    import spark.implicits._
    val rnd = new scala.util.Random(499L)
    val vocab = Array.tabulate(500)(i => s"tok$i")
    val docs = (0 until n).map { i =>
      val sb = new StringBuilder
      while (sb.length < docBytes) {
        if (sb.nonEmpty) sb += ' '
        sb ++= vocab(rnd.nextInt(vocab.length))
      }
      (i.toLong, sb.toString)
    }
    val df = docs.toDF("doc_id", "text").localCheckpoint(true) // pin rows: time hashing, not row building
    def bands(c: org.apache.spark.sql.Column) = scheme match {
      case "kwise" => graft.functions.MinhashSig.bandsColumn(c, 3, 64, 16, 42L)
      case "oph" => graft.functions.OphMinhashSig.bandsXxColumn(c, 3, 64, 16)
      case other => throw new IllegalArgumentException(s"unknown scheme $other")
    }
    def pass(): Unit = // masked sum: forces per-row hashing, cannot overflow ANSI
      df.select(sum(element_at(bands(col("text")), 1).bitwiseAND(lit(1023L)))).collect()
    pass() // warm
    val t0 = System.nanoTime()
    pass()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Docs/s through the ingest-time BLOCKLIST filter
    * ([[graft.ops.DictScan.blocklistFilter]] — broadcast Aho–Corasick,
    * stateless map, first-hit short-circuit): synthetic ~`docBytes`-char
    * documents from a seeded vocabulary, `hitRate` per mille carrying a
    * blocklisted term at a random position. Stateless ⇒
    * `processAllAvailable` is safe (no timers). Returns
    * (docsPerSec, kept, dropped).
    */
  def measureBlocklist(
      spark: SparkSession,
      n: Int,
      batches: Int = 10,
      docBytes: Int = 2048,
      hitPerMille: Int = 250,
      dictK: Int = 200
  ): (Double, Long, Long) = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(733L)
    val vocab = Array.tabulate(500)(i => s"tok$i")
    val blocked = Array.tabulate(dictK)(i => s"bad$i")
    val docs = (0 until n).map { i =>
      val toks = scala.collection.mutable.ArrayBuffer.empty[String]
      var len = 0
      while (len < docBytes) {
        val t = vocab(rnd.nextInt(vocab.length)); toks += t; len += t.length + 1
      }
      // Random token boundary (never index 0 — the patterns are
      // space-prefixed), so blocked docs exit the scan at a uniformly
      // random prefix and the first-hit short-circuit is actually priced.
      if (rnd.nextInt(1000) < hitPerMille)
        toks.insert(1 + rnd.nextInt(toks.length), blocked(rnd.nextInt(blocked.length)))
      (i.toLong, toks.mkString(" "))
    }
    val expectedDrops = docs.count { case (_, t) => t.contains(" bad") }
    val input = MemoryStream[(Long, String)]
    val kept = graft.ops.DictScan.blocklistFilter(
      input.toDF().toDF("doc_id", "text"), blocked.toIndexedSeq.map(" " + _))
    val q = kept.writeStream.format("memory").queryName("bl_bench").outputMode("append").start()
    try {
      val warm = math.min(100, n / 10)
      input.addData(docs.take(warm))
      q.processAllAvailable()
      val t0 = System.nanoTime()
      val per = math.max(1, (n - warm) / batches)
      docs.drop(warm).grouped(per).foreach { b => input.addData(b); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val keptN = spark.table("bl_bench").count()
      require(keptN == n - expectedDrops, s"blocklist kept $keptN, expected ${n - expectedDrops}")
      ((n - warm) / sec, keptN, expectedDrops.toLong)
    } finally scala.util.Try(q.stop())
  }

  /** Payloads/s through the PIXEL-domain streaming claim protocol
    * ([[graft.streaming.StreamingDedup.dhashChunkClaims]] — decode +
    * gradient hash in the stateless map, claims on dhash chunks at the
    * chunks = 4 scale default): synthetic DECODABLE payloads (BMP24 of
    * seeded random 32×32 grids), ~1 in 4 a BMP8 RE-ENCODE of an earlier
    * grid — the same-pixels/different-bytes dup the byte face cannot
    * see, so the lose path exercises exactly the case this face exists
    * for. Same absorption-polling skeleton, [[measureClaims]] (every
    * decodable payload emits exactly `chunks` claim rows).
    */
  def measureMediaClaimsPixel(
      spark: SparkSession,
      n: Int,
      batches: Int = 10,
      chunks: Int = 4
  ): (Double, Long, Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(2027L)
    val grids = new scala.collection.mutable.ArrayBuffer[Array[Int]](n)
    val events = (0 until n).map { i =>
      val reencode = i > 0 && rnd.nextInt(4) == 0
      val g = if (reencode) grids(rnd.nextInt(grids.length)) else Array.fill(32 * 32)(rnd.nextInt(256))
      grids += g
      val p = if (reencode) graft.ops.Multimodal.bmp8(g, 32) else graft.ops.Multimodal.bmp24(g, 32)
      (i.toLong, p)
    }
    measureClaims(spark, events, chunks, batches, "pixel media") { df =>
      StreamingDedup.dhashChunkClaims(df.toDF("media_id", "content"), ttlMinutes = 60, chunks = chunks)
    }
  }

  /** The claim legs' skeleton: runs `claimsOf` over a `MemoryStream` of
    * `rows` at one state partition on RocksDB, and a `foreachBatch` counts
    * its claim and lost rows. Every row emits exactly `claimsPerRow`
    * claims, so the cumulative count is the absorption signal:
    * `processAllAvailable` starves under the claims' processing-time TTL
    * (continual timer wakeups), so each batch is polled until its claims
    * arrive, failing with "`what` claims stalled" after 180 s. One warm-up
    * batch of up to 100 rows, then `batches` timed ones. Returns
    * (rowsPerSec, claims, lostClaims).
    */
  private def measureClaims[T: Encoder](
      spark: SparkSession,
      rows: Seq[T],
      claimsPerRow: Int,
      batches: Int,
      what: String
  )(claimsOf: DataFrame => Dataset[StreamingDedup.BandClaim]): (Double, Long, Long) = {
    implicit val ctx: SQLContext = spark.sqlContext
    val input = MemoryStream[T]
    val claims = claimsOf(input.toDF())
    val seen = new AtomicLong(0L)
    val lost = new AtomicLong(0L)
    val q = withStatePartitions(spark) {
      claims.toDF().writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val agg = batch
            .agg(count(lit(1)), sum(when(col("lost"), 1L).otherwise(0L)))
            .collect()(0)
          seen.addAndGet(agg.getLong(0))
          lost.addAndGet(if (agg.isNullAt(1)) 0L else agg.getLong(1))
          ()
        }
        .start()
    }
    def awaitClaims(rowsAdded: Long): Unit = {
      val expected = claimsPerRow.toLong * rowsAdded
      val deadline = System.nanoTime() + 180_000_000_000L
      while (seen.get() < expected && System.nanoTime() < deadline) Thread.sleep(20)
      require(seen.get() >= expected, s"$what claims stalled: ${seen.get()} < $expected")
    }
    try {
      val n = rows.size
      val warm = math.min(100, n / 10)
      input.addData(rows.take(warm))
      awaitClaims(warm)
      val t0 = System.nanoTime()
      val per = math.max(1, (n - warm) / batches)
      var added = warm.toLong
      rows.drop(warm).grouped(per).foreach { b =>
        input.addData(b)
        added += b.size
        awaitClaims(added)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      ((n - warm) / sec, seen.get(), lost.get())
    } finally scala.util.Try(q.stop())
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "500000").toInt
    val batches = 10
    val spark = GraftSession.local(appName = "stream-bench")
    val (eps, teams, users) = measure(spark, n, batches)
    val sec = (n - 100) / eps // timed span only (warmup excluded), as before
    val mediaN = sys.env.getOrElse("SPARK_GRAFT_MEDIA_EVENTS", "20000").toInt
    // Two chunk widths: chunks=8 (pigeonhole Hamming<=7, 2^8 buckets/index —
    // the tight-recall config; saturates past ~2k distinct payloads per TTL
    // horizon, so nearly everything flags candidate) and chunks=4
    // (Hamming<=3, 2^16 buckets/index — the scale config: 256x lower
    // collision floor). Both measured so BASELINE carries the tradeoff.
    val (mps8, claims8, lost8) = measureMediaClaims(spark, mediaN, chunks = 8)
    val (mps4, claims4, lost4) = measureMediaClaims(spark, mediaN, chunks = 4)
    // pixel path: decode + gradient hash in the map — the measured-winner
    // face; re-encoded-twin dups drive the lose path
    val (mpsP, claimsP, lostP) = measureMediaClaimsPixel(spark, mediaN)
    val (bps, blKept, blDropped) = measureBlocklist(spark, mediaN)
    // text near-dup claim legs: the k-wise vs OPH ingest-CPU comparison,
    // same doc mix, same claim protocol
    val (tkps, tkClaims, tkLost) = measureTextClaims(spark, mediaN, "kwise")
    val (tops, toClaims, toLost) = measureTextClaims(spark, mediaN, "oph")
    val bhk = measureBandHashing(spark, mediaN, "kwise")
    val bho = measureBandHashing(spark, mediaN, "oph")
    println(
      s"""{"metric":"stream_events_per_sec","value":${eps.round},"unit":"events/sec","events":$n,"wall_sec":$sec,"teams":$teams,"users":$users,"micro_batches":$batches,"media_payloads_per_sec":${mps8.round},"media_payloads":$mediaN,"media_claims":$claims8,"media_lost_claims":$lost8,"media_payloads_per_sec_c4":${mps4.round},"media_claims_c4":$claims4,"media_lost_claims_c4":$lost4,"media_payloads_per_sec_pixel":${mpsP.round},"media_claims_pixel":$claimsP,"media_lost_claims_pixel":$lostP,"blocklist_docs_per_sec":${bps.round},"blocklist_kept":$blKept,"blocklist_dropped":$blDropped,"text_claims_docs_per_sec_kwise":${tkps.round},"text_claims_kwise":$tkClaims,"text_lost_claims_kwise":$tkLost,"text_claims_docs_per_sec_oph":${tops.round},"text_claims_oph":$toClaims,"text_lost_claims_oph":$toLost,"band_hash_docs_per_sec_kwise":${bhk.round},"band_hash_docs_per_sec_oph":${bho.round}}"""
    )
    spark.stop()
  }
}
