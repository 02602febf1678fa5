package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingDedup

class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val H = 3600_000L

  test("contentDedup drops same-content docs within the watermark horizon") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val stream = input.toDF().toDF("doc_id", "text", "ts")
      .withColumn("event_time", org.apache.spark.sql.functions.timestamp_millis($"ts"))
    val deduped = StreamingDedup.contentDedup(stream, "text", "event_time", "2 hours")
    val q = deduped.writeStream.format("memory").queryName("sd_out").outputMode("append").start()
    try {
      input.addData(Seq((1L, "alpha text", H), (2L, "beta text", H + 1000), (3L, "alpha text", H + 2000)))
      q.processAllAvailable()
      input.addData(Seq((4L, "alpha text", H + 3000), (5L, "gamma text", H + 4000)))
      q.processAllAvailable()
      // advance watermark far: append-mode dedup emits finalized rows
      input.addData(Seq((6L, "omega text", 50 * H)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("sd_out").select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L) && !ids.contains(3L) && !ids.contains(4L)) // dups of doc 1 dropped
    assert(ids.contains(2L) && ids.contains(5L))
  }

  test("bandClaims near-dup filter: later near-dups lose buckets, uniques survive, ties to min id") {
    implicit val ctx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely different content about distributed stream processing engines and state"
    val input = MemoryStream[(Long, String)]
    val claims = StreamingDedup.bandClaims(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", ttlMinutes = 60)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = claims.toDF().writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = StreamingDedup.survivors(batch)
          .collect().map(_.getLong(0)).toSet
        if (s.nonEmpty || batch.count() > 0) batches.synchronized { batches += s }
        ()
      }
      .start()
    // processAllAvailable starves under processing-time TTL (continual
    // batch scheduling) — poll the collected batches instead.
    def awaitBatches(n: Int): Unit = {
      val deadline = System.nanoTime() + 90_000_000_000L
      while (batches.synchronized(batches.size) < n && System.nanoTime() < deadline)
        Thread.sleep(200)
    }
    try {
      // batch 1: A and an exact same-batch dup of A (id 5) + unique B
      input.addData(Seq((5L, textA), (1L, textA), (2L, textB)))
      awaitBatches(1)
      // batch 2: near-dup of A (one word changed) + a fresh unique doc
      input.addData(Seq(
        (7L, textA.replace("today", "tonight")),
        (8L, "yet another unrelated document body mentioning graphs and joins entirely")
      ))
      awaitBatches(2)
    } finally q.stop()
    val all = batches.toList
    assert(all.nonEmpty)
    // batch 1: doc 1 wins the tie with doc 5; doc 2 unique
    assert(all.head == Set(1L, 2L))
    // batch 2: 7 shares most bands with doc 1's claimed buckets → dropped; 8 survives
    assert(all.last == Set(8L))
  }

  test("ophBandClaims: same claim protocol, one-hash-per-shingle signatures — dups lose, uniques survive") {
    implicit val ctx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely different content about distributed stream processing engines and state"
    val input = MemoryStream[(Long, String)]
    val claims = StreamingDedup.ophBandClaims(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", ttlMinutes = 60)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = claims.toDF().writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = StreamingDedup.survivors(batch)
          .collect().map(_.getLong(0)).toSet
        if (s.nonEmpty || batch.count() > 0) batches.synchronized { batches += s }
        ()
      }
      .start()
    def awaitBatches(n: Int): Unit = {
      val deadline = System.nanoTime() + 90_000_000_000L
      while (batches.synchronized(batches.size) < n && System.nanoTime() < deadline)
        Thread.sleep(200)
    }
    try {
      // batch 1: exact same-batch dup of A (tie to min id) + unique B
      input.addData(Seq((5L, textA), (1L, textA), (2L, textB)))
      awaitBatches(1)
      // batch 2: near-dup of A + a fresh unique doc — short docs borrow
      // most OPH slots, so the near-dup's unchanged-run bands collide
      // with doc 1's claims (deterministic for this fixture)
      input.addData(Seq(
        (7L, textA.replace("today", "tonight")),
        (8L, "yet another unrelated document body mentioning graphs and joins entirely")
      ))
      awaitBatches(2)
    } finally q.stop()
    val all = batches.toList
    assert(all.nonEmpty)
    assert(all.head == Set(1L, 2L)) // exact dup: identical bands, min id wins
    assert(all.last == Set(8L)) // near-dup 7 loses >= 1 band; unique 8 survives
  }

  test("streaming parse surfaces drop counts via observed metrics") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val observed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val parsed = graft.ops.Parse
      .parseGameEvents(input.toDF(), observe = true)
    val q = parsed.writeStream.format("memory").queryName("sp_obs").outputMode("append").start()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get(graft.ops.Parse.ObservationName)
        if (m != null) observed += ((m.getAs[Long]("parse_errors"), m.getAs[Long]("rows_in")))
      }
    }
    spark.streams.addListener(listener)
    try {
      input.addData(Seq("a,Red,5,1000,x", "garbage line", "b,Blue,zz,2000,x", "c,Red,1,3000,x"))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!observed.exists(_._2 == 4L) && System.nanoTime() < deadline) Thread.sleep(100)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    assert(observed.exists { case (errs, rows) => rows == 4L && errs == 2L })
    assert(spark.table("sp_obs").count() == 2) // only well-formed rows pass
  }

  test("dedup state works on the RocksDB provider (production state store)") {
    implicit val ctx = spark.sqlContext
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(String, Int)]
    val deduped = StreamingDedup.exactForever(input.toDF().toDF("k", "v"), Seq("k"))
    val q = deduped.writeStream.format("memory").queryName("sd_rocks").outputMode("append").start()
    try {
      input.addData(Seq("a" -> 1, "a" -> 2, "b" -> 3))
      q.processAllAvailable()
      input.addData(Seq("b" -> 9, "c" -> 4))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sd_rocks").as[(String, Int)].collect().toMap
    assert(rows == Map("a" -> 1, "b" -> 3, "c" -> 4))
  }

  test("exactForever keeps first occurrence only, across batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val deduped = StreamingDedup.exactForever(input.toDF().toDF("k", "v"), Seq("k"))
    val q = deduped.writeStream.format("memory").queryName("sd_forever").outputMode("append").start()
    try {
      input.addData(Seq("a" -> 1, "b" -> 2))
      q.processAllAvailable()
      input.addData(Seq("a" -> 99, "c" -> 3))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sd_forever").as[(String, Int)].collect().toMap
    assert(rows == Map("a" -> 1, "b" -> 2, "c" -> 3))
  }

  test("ahashChunkClaims: duplicate payloads lose every chunk, distinct payloads survive") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val payloadA = Array.tabulate[Byte](2048)(_ => rnd.nextInt(256).toByte)
    val payloadB = Array.tabulate[Byte](2048)(_ => rnd.nextInt(256).toByte)
    val payloadC = Array.tabulate[Byte](2048)(_ => rnd.nextInt(256).toByte)
    val input = MemoryStream[(Long, Array[Byte])]
    val claims = StreamingDedup.ahashChunkClaims(
      input.toDF().toDF("media_id", "content"), ttlMinutes = 60)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = claims.toDF().writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = StreamingDedup.survivors(batch)
          .collect().map(_.getLong(0)).toSet
        if (s.nonEmpty || batch.count() > 0) batches.synchronized { batches += s }
        ()
      }
      .start()
    def awaitBatches(n: Int): Unit = {
      val deadline = System.nanoTime() + 90_000_000_000L
      while (batches.synchronized(batches.size) < n && System.nanoTime() < deadline)
        Thread.sleep(200)
    }
    try {
      // batch 1: A claims; same-batch exact dup of A (id 6) loses the tie
      input.addData(Seq((6L, payloadA), (1L, payloadA), (2L, payloadB)))
      awaitBatches(1)
      // batch 2: exact re-ingest of A loses everything; fresh C survives
      input.addData(Seq((9L, payloadA), (8L, payloadC)))
      awaitBatches(2)
    } finally q.stop()
    val all = batches.toList
    assert(all.nonEmpty)
    assert(all.head == Set(1L, 2L), s"batch 1 survivors: ${all.head}")
    assert(all.last == Set(8L), s"batch 2 survivors: ${all.last}")
  }

  test("dhashChunkClaims: a re-encoded pixel twin is caught; the byte face provably misses it") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(47)
    def px() = Array.fill(32 * 32)(rnd.nextInt(256))
    val pxA = px(); val pxB = px(); val pxC = px()
    val a24 = graft.ops.Multimodal.bmp24(pxA, 32)
    val a8 = graft.ops.Multimodal.bmp8(pxA, 32) // same pixels, different bytes
    val b24 = graft.ops.Multimodal.bmp24(pxB, 32)
    val c24 = graft.ops.Multimodal.bmp24(pxC, 32)
    val junk = Array.tabulate[Byte](512)(_ => rnd.nextInt(256).toByte) // undecodable
    assert(!java.util.Arrays.equals(a24, a8))
    // identical pixel hashes for the twin — the claim collides at Hamming 0
    assert(graft.ops.Multimodal.pixelDhashOf(a24) == graft.ops.Multimodal.pixelDhashOf(a8))
    assert(graft.ops.Multimodal.pixelDhashOf(junk).isEmpty)

    def run(
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[StreamingDedup.BandClaim]
    ): List[Set[Long]] = {
      val input = MemoryStream[(Long, Array[Byte])]
      val claims = mk(input.toDF().toDF("media_id", "content"))
      val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val q = claims.toDF().writeStream
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val s = StreamingDedup.survivors(batch).collect().map(_.getLong(0)).toSet
          if (s.nonEmpty || batch.count() > 0) batches.synchronized { batches += s }
          ()
        }
        .start()
      def awaitBatches(n: Int): Unit = {
        val deadline = System.nanoTime() + 90_000_000_000L
        while (batches.synchronized(batches.size) < n && System.nanoTime() < deadline)
          Thread.sleep(200)
      }
      try {
        input.addData(Seq((1L, a24), (2L, b24)))
        awaitBatches(1)
        // re-encoded twin of 1, a fresh payload, and an undecodable one
        input.addData(Seq((9L, a8), (8L, c24), (7L, junk)))
        awaitBatches(2)
      } finally q.stop()
      batches.toList
    }

    val pixel = run(df => StreamingDedup.dhashChunkClaims(df, ttlMinutes = 60))
    assert(pixel.head == Set(1L, 2L), s"pixel batch 1: ${pixel.head}")
    // 9 (the re-encode) LOSES; undecodable 7 emits no claims at all
    assert(pixel.last == Set(8L), s"pixel batch 2: ${pixel.last}")
    // the byte-domain face scans the same stream and MISSES the
    // re-encode: 9 survives — exactly the contradiction the pixel
    // face closes (the batch perturbation matrix's measured verdict)
    val bytes = run(df => StreamingDedup.ahashChunkClaims(df, ttlMinutes = 60, chunks = 4))
    assert(bytes.last.contains(9L), s"byte batch 2: ${bytes.last}")
  }

  test("StreamBench.measureMediaClaims: absorbs every payload, counts lost claims") {
    // 400 x 512 B payloads, seeded ~25% exact dups: every payload must emit
    // exactly 8 claim rows (cumulative absorption contract the bench waits
    // on), and the dup re-ingests must LOSE at least their own chunk count.
    val (eps, claims, lost) = StreamBench.measureMediaClaims(
      spark, n = 400, batches = 4, payloadBytes = 512)
    assert(eps > 0.0)
    assert(claims == 8L * 400, s"claims=$claims")
    assert(lost > 0L, "seeded exact dups must lose buckets")
  }

  test("StreamBench.measureMediaClaimsPixel: absorbs decodable payloads, re-encodes lose") {
    // 400 BMP payloads (~25% BMP8 re-encodes of earlier grids): every
    // payload decodes → exactly 4 claim rows each; the re-encoded twins
    // MUST lose chunks (pixel-identical ⇒ Hamming 0 ⇒ all 4 keys collide)
    val (eps, claims, lost) = StreamBench.measureMediaClaimsPixel(
      spark, n = 400, batches = 4)
    assert(eps > 0.0)
    assert(claims == 4L * 400, s"claims=$claims")
    assert(lost > 0L, "re-encoded twins must lose buckets")
  }

  test("StreamBench.measureTextClaims: both schemes absorb every doc, near-dups lose") {
    // 400 docs (~25% one-token edits of earlier docs): every doc emits
    // exactly 16 band claims, and the edited copies must lose some bands
    for (scheme <- Seq("kwise", "oph")) {
      val (dps, claims, lost) = StreamBench.measureTextClaims(
        spark, n = 400, scheme = scheme, batches = 4, docBytes = 512)
      assert(dps > 0.0, scheme)
      assert(claims == 16L * 400, s"$scheme claims=$claims")
      assert(lost > 0L, s"$scheme: seeded near-dups must lose bands")
    }
    // onQueryStarted runs synchronously inside start(), so a count of 0
    // means no query started, not merely none left running
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val e =
      try intercept[IllegalArgumentException](StreamBench.measureTextClaims(spark, n = 400, scheme = "simhash"))
      finally spark.streams.removeListener(listener)
    assert(e.getMessage == "unknown scheme simhash")
    assert(started.get == 0, "a query started for an unknown scheme")
  }

  test("StreamBench.measureBlocklist: exact keep/drop census at throughput") {
    val (dps, kept, dropped) = StreamBench.measureBlocklist(
      spark, n = 400, batches = 4, docBytes = 512)
    assert(dps > 0.0)
    assert(kept + dropped == 400L)
    assert(dropped > 0L, "seeded hit rate must drop docs")
  }
}
