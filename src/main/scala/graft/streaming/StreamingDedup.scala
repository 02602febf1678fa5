package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming deduplication for continuous ingestion — the stream-side
  * complement to the batch operators in [[graft.ops.Dedup]].
  *
  * State design: dedup state is per-key in the StateStore, partitioned by the
  * key hash. Unbounded-state dedup ([[exactForever]]) matches the
  * reference's global-window semantics (nothing expires); the watermarked
  * form ([[exactWithinWatermark]]) bounds state to the lateness horizon —
  * the only sane configuration at 100 TB/day ingest, where "forever" state
  * would grow without limit.
  */
object StreamingDedup {

  /** Drop rows whose key was seen before, keeping state forever (exact
    * streaming dedup, unbounded state growth — use for bounded key spaces).
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def exactForever(stream: DataFrame, keyCols: Seq[String]): DataFrame =
    stream.dropDuplicates(keyCols)

  /** Drop duplicate keys arriving within the watermark horizon: two events
    * with the same key deduplicate iff they arrive within `delay` of each
    * other in event time; state older than the watermark is evicted. Input
    * must carry `eventTimeCol`.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def exactWithinWatermark(
      stream: DataFrame,
      keyCols: Seq[String],
      eventTimeCol: String,
      delay: String
  ): DataFrame =
    stream
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** NEAR-dup candidate filtering on a document stream — the streaming form
    * of [[graft.ops.Dedup.minhashPairs]]'s candidate generation: each doc's
    * MinHash band bucket hashes ([[graft.functions.MinhashBandsExpr]], one
    * native call per doc) try to CLAIM their buckets in keyed state; a doc
    * that loses ANY bucket to an earlier different doc is a near-dup
    * candidate. State: one owner id per occupied bucket
    * (`transformWithState` ValueState, processing-time TTL bounds the
    * horizon), partitioned by bucket hash like any keyed state. All of a
    * doc's band rows land in the SAME micro-batch, so per-doc resolution
    * (any-lost) is a plain batch aggregation over this output — see
    * [[survivors]]; ties inside a batch resolve to the smallest doc id.
    *
    * Recall/precision mirror the batch LSH filter: a lost bucket means
    * band-identical minhashes with an earlier doc (near-dup with high
    * probability — exact-verify survivors downstream if required).
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def bandClaims(
      docStream: DataFrame,
      idCol: String,
      textCol: String,
      ttlMinutes: Int,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L
  ): org.apache.spark.sql.Dataset[StreamingDedup.BandClaim] = {
    import docStream.sparkSession.implicits._
    docStream
      .select(
        col(idCol).cast("long").as("doc_id"),
        graft.functions.MinhashSig.bandsColumn(col(textCol), shingleN, numHashes, bands, seed)
          .as("bhs")
      )
      .filter(col("bhs").isNotNull)
      .select(col("doc_id"), explode(col("bhs")).as("band_hash"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .transformWithState(
        new BandClaimProcessor(ttlMinutes),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update()
      )
  }

  /** [[bandClaims]] with the signature pass swapped for One-Permutation
    * Hashing ([[graft.functions.OphBandsExpr]]): ONE xxhash64 per shingle
    * + an O(numBins) densification instead of `numBins` re-hashes per
    * shingle. The claim protocol, state layout, TTL, and per-doc
    * resolution ([[survivors]]) are unchanged — only the map-side CPU
    * drops (measured ~1.4× at 2 KB docs / k = 64: the shared per-shingle
    * string hash dominates, see [[graft.functions.OphBandsExpr]];
    * StreamBench's text-claims and band-hashing legs carry both
    * schemes).
    * Collision behaviour matches the batch OPH family: equal shingle
    * sets claim identical buckets; short documents lean on borrowed
    * (correlated) slots, which RAISES band-collision probability at
    * fixed Jaccard — more aggressive candidate flagging, never fewer
    * exact-dup catches.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def ophBandClaims(
      docStream: DataFrame,
      idCol: String,
      textCol: String,
      ttlMinutes: Int,
      shingleN: Int = 3,
      numBins: Int = 64,
      bands: Int = 16
  ): org.apache.spark.sql.Dataset[StreamingDedup.BandClaim] = {
    import docStream.sparkSession.implicits._
    docStream
      .select(
        col(idCol).cast("long").as("doc_id"),
        graft.functions.OphMinhashSig.bandsXxColumn(col(textCol), shingleN, numBins, bands)
          .as("bhs")
      )
      .filter(col("bhs").isNotNull)
      .select(col("doc_id"), explode(col("bhs")).as("band_hash"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .transformWithState(
        new BandClaimProcessor(ttlMinutes),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update()
      )
  }

  /** Streaming exact-substring (CDC chunk) claims — same claim protocol as
    * [[bandClaims]] but keyed by content-defined chunk fingerprints
    * ([[graft.ops.Dedup.cdcChunks]]): the first doc to stream a chunk owns
    * it; later docs LOSE that chunk (their novel-content fraction drops).
    * Resolution differs from near-dup banding: a doc is boilerplate-heavy,
    * not duplicate, when MOST of its chunks are lost — aggregate the claim
    * stream per doc and threshold on the lost fraction downstream.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def chunkClaims(
      docStream: DataFrame,
      idCol: String,
      textCol: String,
      ttlMinutes: Int,
      minLen: Int = 32,
      maxLen: Int = 256,
      maskBits: Int = 6
  ): org.apache.spark.sql.Dataset[StreamingDedup.BandClaim] = {
    import docStream.sparkSession.implicits._
    docStream
      .select(
        col(idCol).cast("long").as("doc_id"),
        graft.ops.Dedup.cdcChunks(col(textCol), minLen, maxLen, maskBits).as("cs")
      )
      .select(col("doc_id"), explode(array_distinct(col("cs"))).as("chunk_hash"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .transformWithState(
        new BandClaimProcessor(ttlMinutes),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update()
      )
  }

  /** Streaming MEDIA near-dup claims — the claim protocol keyed by the
    * perceptual-hash chunk keys of the raw payload: each ingested
    * payload's 64-cell average hash ([[graft.functions.AHash64Expr]], one
    * codegen'd call) splits into `chunks` keys (index packed above the
    * value bits), and each key tries to claim its bucket. Pigeonhole as
    * in the batch face ([[graft.ops.Multimodal.ahashNearDupPairs]]):
    * ≤ chunks−1 differing bits cannot touch every chunk, so any payload
    * within Hamming chunks−1 of an earlier one shares a chunk and LOSES
    * that bucket — resolve per doc with [[survivors]] exactly like the
    * text band claims. Empty payloads (null hash) are dropped, matching
    * the batch face.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def ahashChunkClaims(
      mediaStream: DataFrame,
      ttlMinutes: Int,
      idCol: String = "media_id",
      contentCol: String = "content",
      chunks: Int = 8
  ): org.apache.spark.sql.Dataset[StreamingDedup.BandClaim] = {
    // chunks=1 would make w=64 and `(1L << w) - 1` wrap to 0 (Java shifts
    // mod 64), collapsing every chunk key to its packed index — all
    // payloads would collide into one bucket. 2+ keeps the mask real.
    require(chunks >= 2 && 64 % chunks == 0, "chunks must be >= 2 and divide 64")
    val w = 64 / chunks
    import mediaStream.sparkSession.implicits._
    val chunkKeys = (0 until chunks).map { c =>
      shiftrightunsigned(col("ahash"), c * w).bitwiseAND(lit((1L << w) - 1))
        .bitwiseOR(lit(c.toLong << w))
    }
    mediaStream
      .select(
        col(idCol).cast("long").as("doc_id"),
        graft.functions.AHash64Expr.column(col(contentCol)).as("ahash"))
      .filter(col("ahash").isNotNull)
      .select(col("doc_id"), explode(array(chunkKeys: _*)).as("chunk_key"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .transformWithState(
        new BandClaimProcessor(ttlMinutes),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update()
      )
  }

  /** Streaming media claims on the PIXEL-domain gradient hash — the
    * measured winner of the batch perturbation matrix
    * ([[graft.ops.Multimodal.perturbationMatrixFromHashes]], encoded as
    * the `media_dedup_auto` gate), so the streaming face keys on the
    * same hash the batch face's measured decision picks instead of
    * contradicting it with the byte-domain aHash ([[ahashChunkClaims]],
    * kept as the codec-free fallback for undecodable payload streams).
    *
    * Decode happens IN the stateless map (ImageIO per payload — no
    * state, no extra stage); a re-encoded duplicate (same pixels,
    * different bytes: BMP24 vs BMP8) hashes identically, so its chunk
    * keys collide at Hamming 0 and the claim LOSES — the case the byte
    * hash provably misses (spec-pinned both ways). Undecodable payloads
    * drop, matching the batch decode-degrade contract. Default
    * `chunks = 4` is the scale config (2¹⁶ buckets/index — the
    * measured occupancy-wall answer; pigeonhole still catches
    * Hamming ≤ 3 near-dups).
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def dhashChunkClaims(
      mediaStream: DataFrame,
      ttlMinutes: Int,
      idCol: String = "media_id",
      contentCol: String = "content",
      chunks: Int = 4
  ): org.apache.spark.sql.Dataset[StreamingDedup.BandClaim] = {
    require(chunks >= 2 && 64 % chunks == 0, "chunks must be >= 2 and divide 64")
    val w = 64 / chunks
    val mask = (1L << w) - 1
    import mediaStream.sparkSession.implicits._
    mediaStream
      .select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        graft.ops.Multimodal.pixelDhashOf(bytes).toSeq.flatMap { h =>
          (0 until chunks).map(c => (id, ((h >>> (c * w)) & mask) | (c.toLong << w)))
        }
      }
      .groupByKey(_._2)
      .transformWithState(
        new BandClaimProcessor(ttlMinutes),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update()
      )
  }

  /** Per-doc novel-content fraction over one micro-batch of [[chunkClaims]]
    * output (claims co-batch per doc): docs keeping at least `minNovel` of
    * their chunks. Apply inside `foreachBatch`.
    */
  def novelDocs(claimsBatch: DataFrame, minNovel: Double): DataFrame =
    claimsBatch
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("lost"), 0L).otherwise(1L)).as("n_novel")
      )
      .filter(col("n_novel") >= col("n_chunks") * minNovel)
      .select(col("doc_id"), col("n_chunks"), col("n_novel"))

  /** Per-doc resolution over one micro-batch of [[bandClaims]] output:
    * docs that lost no bucket. Apply inside `foreachBatch` (all of a doc's
    * claims co-batch).
    */
  def survivors(claimsBatch: DataFrame): DataFrame =
    claimsBatch
      .groupBy(col("doc_id"))
      .agg(max(when(col("lost"), 1).otherwise(0)).as("_any_lost"))
      .filter(col("_any_lost") === 0)
      .select(col("doc_id"))

  /** Content-hash dedup of a document stream: key = md5(text) (16-byte state
    * per doc, never the payload), watermark-bounded.
    */
  def contentDedup(
      docStream: DataFrame,
      textCol: String,
      eventTimeCol: String,
      delay: String
  ): DataFrame =
    exactWithinWatermark(
      docStream.withColumn("_content_hash", md5(col(textCol))),
      Seq("_content_hash"),
      eventTimeCol,
      delay
    ).drop("_content_hash")

  final case class BandClaim(doc_id: Long, band_hash: Long, lost: Boolean)

  /** Keyed by band bucket hash: the first doc to arrive owns the bucket
    * (smallest id on a same-batch tie); later different docs lose. Owner
    * state expires after `ttlMinutes` IDLE — the owner value is re-written
    * on every batch that hits the bucket, so the TTL clock restarts at last
    * activity, not first claim (an actively-colliding bucket never silently
    * re-opens mid-stream).
    */
  class BandClaimProcessor(ttlMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), BandClaim] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var owner: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long](
        "owner",
        org.apache.spark.sql.Encoders.scalaLong,
        if (ttlMinutes > 0) TTLConfig(java.time.Duration.ofMinutes(ttlMinutes.toLong))
        else TTLConfig.NONE
      )

    override def handleInputRows(
        bucket: Long,
        rows: Iterator[(Long, Long)],
        timerValues: TimerValues
    ): Iterator[BandClaim] = {
      val docs = rows.map(_._1).toSet.toSeq.sorted
      val own = if (owner.exists()) owner.get() else docs.head
      // Unconditional update: refreshes the TTL expiration on every hit so
      // the horizon is measured from LAST activity (idle semantics).
      owner.update(own)
      docs.iterator.map(d => BandClaim(d, bucket, lost = d != own))
    }
  }
}
