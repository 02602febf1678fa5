package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.functions.CdcChunksExpr
import graft.ops.Dedup

class CdcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val mask = (1L << 6) - 1

  private def doc(seed: Int, words: Int): String = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta", "kappa")
    Seq.fill(words)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  }

  test("expression matches the reference chunker; chunks reassemble the doc") {
    val text = doc(1, 400)
    val viaExpr = Seq(text).toDF("text")
      .select(Dedup.cdcChunks($"text").as("c"))
      .as[Seq[Long]].head()
    val refChunks = CdcChunksExpr.chunksOf(text, 32, 256, mask)
    assert(refChunks.mkString("") == text) // lossless partition
    assert(refChunks.forall(c => c.length <= 256))
    // expression hashes = xxhash64 of each reference chunk
    val refHashes = Seq.tabulate(refChunks.length)(i => refChunks(i))
      .toDF("chunk").select(xxhash64($"chunk")).as[Long].collect().toSeq
    assert(viaExpr == refHashes)
  }

  test("insert-robustness: an edit changes O(1) chunks, fixed passages shift everywhere") {
    val base = doc(2, 600)
    // insert a word near the front
    val edited = {
      val toks = base.split(" ").toVector
      (toks.take(5) :+ "INSERTED").++(toks.drop(5)).mkString(" ")
    }
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val cdc = df.select($"doc_id", explode(Dedup.cdcChunks($"text")).as("c"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cdcShared = (cdc(1L) & cdc(2L)).size.toDouble / cdc(1L).size
    val fixed = df.select($"doc_id", explode(array_distinct(Dedup.passages($"text", 5))).as("p"))
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val fixedShared = (fixed(1L) & fixed(2L)).size.toDouble / fixed(1L).size
    // CDC retains most chunk identities across the edit; fixed passages
    // lose (almost) everything after the insertion point. (The fixed form
    // can collide on repeated vocab, so just require a wide margin.)
    assert(cdcShared >= 0.8, s"cdc shared $cdcShared")
    assert(cdcShared > fixedShared + 0.2, s"cdc $cdcShared vs fixed $fixedShared")
  }

  test("cdcMd5Chunks: lossless partition, boundary rule matches a local reference, insert-robust") {
    val base = doc(3, 600)
    val got = Seq(base).toDF("text")
      .select(Dedup.cdcMd5Chunks($"text").as("c"))
      .as[Seq[String]].head()
    assert(got.mkString("") == base) // lossless partition
    // local reference: boundary after char i iff md5 of the 8-char window
    // ending at i starts with hex '0'
    val mdi = java.security.MessageDigest.getInstance("MD5")
    def isBoundary(i: Int): Boolean = { // i is 1-based inclusive end
      val win = base.substring(i - 8, i)
      val dig = mdi.digest(win.getBytes("UTF-8"))
      (dig(0) & 0xf0) == 0
    }
    val bs = (8 to base.length).filter(isBoundary)
    val expected = (0 +: bs).zip(bs :+ base.length).collect {
      case (s, e) if e > s => base.substring(s, e)
    }
    assert(got == expected)
    // short doc: a single chunk
    val short = Seq("tiny").toDF("text")
      .select(Dedup.cdcMd5Chunks($"text").as("c")).as[Seq[String]].head()
    assert(short == Seq("tiny"))
    // insert-robust: an early edit re-aligns at the next content boundary
    val edited = {
      val toks = base.split(" ").toVector
      (toks.take(5) :+ "INSERTED").++(toks.drop(5)).mkString(" ")
    }
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ch = df.select($"doc_id", explode(Dedup.cdcMd5Chunks($"text")).as("c"))
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val shared = (ch(1L) & ch(2L)).size.toDouble / ch(1L).size
    assert(shared >= 0.8, s"md5-cdc shared $shared")
  }

  test("streaming chunkClaims: repeat content loses its chunks, novel docs survive") {
    implicit val ctx = spark.sqlContext
    val a = doc(10, 400)
    val b = doc(11, 400)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val claims = graft.streaming.StreamingDedup.chunkClaims(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", ttlMinutes = 60)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Map[Long, (Long, Long)]]
    val q = claims.toDF().writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = graft.streaming.StreamingDedup.novelDocs(batch, minNovel = 0.5)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        if (rows.nonEmpty) batches.synchronized { batches += rows.toMap }
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
      input.addData(Seq((1L, a)))
      awaitBatches(1)
      input.addData(Seq((2L, a), (3L, b))) // doc 2 repeats doc 1's content
      awaitBatches(2)
    } finally q.stop()
    val all = batches.synchronized(batches.toList)
    assert(all.nonEmpty)
    val later = all.last
    assert(later.contains(3L) && !later.contains(2L), s"got $later")
  }

  test("cdc_chunks registered as a SQL function") {
    val text = doc(12, 200)
    Seq(text).toDF("text").createOrReplaceTempView("cdc_docs")
    try {
      val viaSql = spark.sql("SELECT cdc_chunks(text) AS c FROM cdc_docs").as[Seq[Long]].head()
      val viaCol = Seq(text).toDF("text").select(Dedup.cdcChunks($"text")).as[Seq[Long]].head()
      assert(viaSql == viaCol)
    } finally spark.catalog.dropTempView("cdc_docs")
  }

  test("cdcShareStats: duplicated docs share all chunks, unique docs none") {
    val a = doc(3, 300)
    val df = Seq((1L, a), (2L, a), (3L, doc(4, 300))).toDF("doc_id", "text")
    val got = Dedup.cdcShareStats(df)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == got(2L))
    assert(got(1L)._1 == got(1L)._2) // all chunks shared
    // doc 3 shares nothing with high probability (different word stream);
    // allow a stray collision chunk
    assert(got(3L)._2 <= 1)
  }
}
