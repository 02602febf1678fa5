package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming content-novelty monitor with BOUNDED state: per micro-batch,
  * which documents' content hashes were already seen in the stream's
  * history — the ingest-time twin of the batch
  * [[graft.ops.TextAnalysis.ngramNovelty]] curve ("how much of today's
  * crawl is text we already hold"), and the streaming counterpart of
  * [[graft.ops.Dedup.deltaDedup]]'s bloom prefilter.
  *
  * State design: each content hash routes to ONE shard by hash prefix, and
  * the shard's state is a fixed Bloom bit array (`mBits` bits — the
  * [[graft.ops.Bloom]] salted-position scheme evaluated executor-side).
  * Membership is decided entirely within the owning shard, so the state
  * per shard is CONSTANT (mBits/64 longs) no matter how many documents
  * stream through — unlike exact streaming dedup, whose key state grows
  * with history. The price is the Bloom one-sided error: an exact repeat
  * is ALWAYS flagged seen (no false negatives), a fresh document is
  * flagged seen with the usual false-positive probability for the chosen
  * (mBits, kHash, fill) point.
  *
  * Determinism: rows within a micro-batch process in (doc_id) order, so an
  * in-batch duplicate pair resolves identically on every replay; flags are
  * a pure function of the processed prefix.
  */
object StreamingNovelty {

  case class NoveltyFlag(doc_id: Long, shard: Int, seen: Boolean)
  case class BloomWords(words: Array[Long])

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** First-8-hex-chars md5 value — the executor-side mirror of
    * [[graft.ops.Dedup.md5Hash32]].
    */
  private def md5Hash32Local(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 8), 16)

  /** The k salted bit positions of a key ([[graft.ops.Bloom.positions]]'
    * salt format, evaluated locally). */
  private[streaming] def positions(key: String, mBits: Int, kHash: Int): Seq[Int] =
    (0 until kHash).map(i => (md5Hash32Local(s"bf$i-$key") % mBits).toInt)

  /** Flag each streamed document seen/new against the sharded Bloom state.
    * Aggregate the flags per micro-batch downstream for the novelty rate.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def bloomFlags(
      docStream: DataFrame,
      idCol: String,
      textCol: String,
      nShards: Int = 64,
      mBits: Int = 65536,
      kHash: Int = 5,
      ttlMinutes: Int = 0
  ): Dataset[NoveltyFlag] = {
    require(nShards > 0 && mBits % 64 == 0 && kHash > 0, "bad bloom geometry")
    import docStream.sparkSession.implicits._
    docStream
      .select(col(idCol).cast("long").as("doc_id"), md5(col(textCol)).as("h"))
      .as[(Long, String)]
      .groupByKey { case (_, h) => (md5Hash32Local(h) % nShards).toInt }
      .transformWithState(
        new BloomNoveltyProcessor(mBits, kHash, ttlMinutes),
        // ProcessingTime only when a TTL horizon is requested: the time
        // mode schedules continual batches (starves processAllAvailable —
        // poll the sink when using a TTL, see StreamingDedupSpec)
        if (ttlMinutes > 0) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
        else org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update()
      )
  }

  class BloomNoveltyProcessor(mBits: Int, kHash: Int, ttlMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, (Long, String), NoveltyFlag] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var bloom: ValueState[BloomWords] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bloom = getHandle.getValueState[BloomWords](
        "bloom",
        org.apache.spark.sql.Encoders.product[BloomWords],
        if (ttlMinutes > 0) TTLConfig(java.time.Duration.ofMinutes(ttlMinutes.toLong))
        else TTLConfig.NONE
      )

    override def handleInputRows(
        shard: Int,
        rows: Iterator[(Long, String)],
        timerValues: TimerValues
    ): Iterator[NoveltyFlag] = {
      val words =
        if (bloom.exists()) bloom.get().words
        else new Array[Long](mBits / 64)
      // (doc_id) order makes in-batch duplicate resolution replay-stable
      val out = rows.toSeq.sortBy(_._1).map { case (docId, h) =>
        val pos = positions(h, mBits, kHash)
        val seen = pos.forall(p => (words(p >> 6) & (1L << (p & 63))) != 0L)
        pos.foreach(p => words(p >> 6) |= 1L << (p & 63))
        NoveltyFlag(docId, shard, seen)
      }
      bloom.update(BloomWords(words))
      out.iterator
    }
  }
}
