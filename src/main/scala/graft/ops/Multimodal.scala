package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed by per-partition batch operators.
  *
  * The Spark-side plumbing (schema, partitioning, batch iteration, output
  * shape) is real and tested; the actual media decode is STUBBED — this
  * container has no image/audio codecs, so `decodeStub` derives deterministic
  * fake features from the bytes. Swapping in a real decoder changes only the
  * body of one function.
  *
  * Scale notes: media rows are large and skewed — `repartitionByBytes`
  * rebalances on cumulative payload size (not row count) so one executor
  * doesn't receive all the 4K video while another gets thumbnails; decode
  * runs via `mapPartitions` so any native library is initialized once per
  * task, not once per row.
  */
object Multimodal {

  /** Build a media frame from the documents table (text bytes standing in
    * for media payloads — the plumbing doesn't care what the bytes are).
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        col("source").as("source")
      ).as("meta")
    )

  /** Split the payload into fixed-size chunks (array<binary>) — the frame /
    * tile / audio-window primitive. Pure expression, no UDF.
    */
  def chunked(df: DataFrame, chunkBytes: Int): DataFrame =
    df.withColumn(
      "chunks",
      transform(
        sequence(lit(0), greatest(ceil(octet_length(col("content")) / lit(chunkBytes.toDouble)).cast("int") - 1, lit(0))),
        i => substring(col("content"), (i * chunkBytes + 1).cast("int"), lit(chunkBytes))
      )
    )

  /** Sample every `stride`-th chunk — frame sampling for video-like payloads. */
  def sampleChunks(chunkedDf: DataFrame, stride: Int): DataFrame =
    chunkedDf.withColumn(
      "sampled_chunks",
      filter(col("chunks"), (_, i) => i % stride === 0)
    )

  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      channels: Int,
      checksum: Long
  )

  /** Per-partition batch "decode". STUB: real codecs are unavailable in this
    * environment, so features are deterministic functions of the payload
    * bytes (size-derived dimensions + an FNV checksum). The mapPartitions
    * shape — batch iterator in, batch iterator out, per-task init — is
    * exactly what a real decoder plugs into.
    */
  def decodeStub(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])].mapPartitions { rows =>
      // Real decoder: initialize native lib here, once per task.
      rows.map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        var checksum = 0xcbf29ce484222325L // FNV-1a 64
        var i = 0
        while (i < n) { checksum = (checksum ^ (bytes(i.toInt) & 0xffL)) * 0x100000001b3L; i += 1 }
        val width = 16 + (math.abs(checksum) % 1024).toInt
        val height = 16 + (math.abs(checksum >> 10) % 1024).toInt
        MediaFeatures(id, n, width, height, channels = 3, checksum)
      }
    }
  }

  /** Resize STUB: recompute target dimensions (fit inside `maxDim`,
    * aspect-preserving) and mark the payload as resized. A real
    * implementation swaps the body for a codec call inside the same
    * mapPartitions shape as [[decodeStub]]; the dimension math — the part a
    * pipeline's bookkeeping depends on — is real.
    */
  def resizeStub(features: Dataset[MediaFeatures], maxDim: Int): Dataset[MediaFeatures] = {
    val spark = features.sparkSession
    import spark.implicits._
    features.mapPartitions { rows =>
      rows.map { f =>
        val scale = math.min(1.0, maxDim.toDouble / math.max(f.width, f.height))
        f.copy(
          width = math.max(1, math.round(f.width * scale).toInt),
          height = math.max(1, math.round(f.height * scale).toInt)
        )
      }
    }
  }

  final case class ImageFeatures(
      media_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      format: String,
      ok: Boolean
  )

  /** REAL image decode — `javax.imageio` ships with the JDK, so PNG / JPEG /
    * GIF / BMP payloads decode without any external dependency (the generic
    * [[decodeStub]] stays for formats the JDK cannot read). Same
    * mapPartitions contract: readers are constructed per task, undecodable
    * payloads degrade to `ok=false` rows instead of failing the job — at
    * 100 TB a poison payload must never kill a stage.
    */
  def decodeImages(media: DataFrame): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        decodeOne(bytes) match {
          case Some((img, fmt)) => ImageFeatures(id, n, img.getWidth, img.getHeight, fmt, ok = true)
          case None => ImageFeatures(id, n, 0, 0, "", ok = false)
        }
      }
    }
  }

  /** REAL aspect-preserving resize: decode, scale to fit `maxDim`, re-encode
    * as PNG. Returns (media_id, content, width, height, ok); undecodable
    * payloads pass through unchanged with ok=false.
    */
  def resizeImages(media: DataFrame, maxDim: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        decodeOne(bytes) match {
          case Some((img, _)) =>
            val scale = math.min(1.0, maxDim.toDouble / math.max(img.getWidth, img.getHeight))
            val (w, h) = (
              math.max(1, math.round(img.getWidth * scale).toInt),
              math.max(1, math.round(img.getHeight * scale).toInt)
            )
            val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR
              )
              g.drawImage(img, 0, 0, w, h, null)
            } finally g.dispose()
            val buf = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", buf)
            (id, buf.toByteArray, w, h, true)
          case None => (id, bytes, 0, 0, false)
        }
      }
    }.toDF("media_id", "content", "width", "height", "ok")
  }

  final case class AudioMeta(
      media_id: Long,
      n_bytes: Long,
      encoding: String,
      sample_rate_hz: Double,
      channels: Int,
      frames: Long,
      duration_ms: Long,
      ok: Boolean
  )

  /** REAL audio metadata — `javax.sound.sampled` is also JDK-native: WAV /
    * AIFF / AU headers parse without external codecs (compressed formats
    * stay behind the stub boundary). Header-only work: the payload is never
    * decoded to PCM, so this runs at scan speed over binary columns.
    */
  def audioMeta(media: DataFrame): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        try {
          val fmt = javax.sound.sampled.AudioSystem
            .getAudioFileFormat(new java.io.ByteArrayInputStream(bytes))
          val af = fmt.getFormat
          val frames = fmt.getFrameLength.toLong
          val durMs =
            if (frames >= 0 && af.getFrameRate > 0) (frames * 1000.0 / af.getFrameRate).toLong
            else -1L
          AudioMeta(id, n, af.getEncoding.toString, af.getSampleRate.toDouble,
            af.getChannels, frames, durMs, ok = true)
        } catch {
          case _: Exception => AudioMeta(id, n, "", 0.0, 0, -1L, -1L, ok = false)
        }
      }
    }
  }

  private def decodeOne(bytes: Array[Byte]): Option[(java.awt.image.BufferedImage, String)] = {
    if (bytes == null || bytes.isEmpty) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val img = reader.read(0)
        Option(img).map(i => (i, reader.getFormatName.toLowerCase))
      } finally reader.dispose()
    } catch {
      case _: Exception => None
    } finally iis.close()
  }

  final case class ByteStats(
      media_id: Long,
      n_bytes: Long,
      entropy_bits: Double,
      printable_ratio: Double,
      sniffed_mime: String
  )

  /** Magic-byte prefixes → MIME, checked longest-prefix-first. */
  private val MagicBytes: Seq[(Array[Int], String)] = Seq(
    (Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a), "image/png"),
    (Array(0xff, 0xd8, 0xff), "image/jpeg"),
    (Array(0x47, 0x49, 0x46, 0x38), "image/gif"),
    (Array(0x25, 0x50, 0x44, 0x46), "application/pdf"),
    (Array(0x50, 0x4b, 0x03, 0x04), "application/zip"),
    (Array(0x1f, 0x8b), "application/gzip"),
    (Array(0x52, 0x49, 0x46, 0x46), "audio/x-riff")
  ).sortBy(-_._1.length)

  /** Byte-level feature extraction — REAL (codec-free), unlike the decode
    * stub: Shannon entropy of the byte distribution (encrypted/compressed
    * payloads sit near 8 bits; text near 4-5 — the standard cheap filter for
    * junk blobs), printable-ASCII ratio, and magic-byte MIME sniffing.
    * Same mapPartitions batch shape as [[decodeStub]]: one histogram pass
    * per payload, per-task constant state, no shuffle. Entropy rounded to
    * 6dp so results hash stably across partitionings.
    */
  def byteStats(media: DataFrame): Dataset[ByteStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        val n = if (bytes == null) 0 else bytes.length
        val hist = new Array[Long](256)
        var printable = 0L
        var i = 0
        while (i < n) {
          val b = bytes(i) & 0xff
          hist(b) += 1
          if ((b >= 0x20 && b < 0x7f) || b == '\n' || b == '\r' || b == '\t') printable += 1
          i += 1
        }
        var entropy = 0.0
        if (n > 0) {
          var j = 0
          while (j < 256) {
            if (hist(j) > 0) {
              val p = hist(j).toDouble / n
              entropy -= p * (math.log(p) / math.log(2.0))
            }
            j += 1
          }
        }
        val mime = MagicBytes
          .find { case (magic, _) =>
            magic.length <= n && magic.indices.forall(k => (bytes(k) & 0xff) == magic(k))
          }
          .map(_._2)
          .getOrElse("application/octet-stream")
        ByteStats(
          id,
          n.toLong,
          math.rint(entropy * 1e6) / 1e6,
          if (n == 0) 0.0 else math.rint(printable.toDouble / n * 1e6) / 1e6,
          mime
        )
      }
    }
  }

  final case class ByteStatsExact(
      media_id: Long,
      n_bytes: Long,
      n_distinct: Long,
      coincidence: Long,
      n_printable: Long,
      entropy_micro: Long
  )

  /** Integer-exact byte features — the oracle-checkable form of
    * [[byteStats]]: distinct byte count, collision statistic Σc² (the
    * Rényi-2 entropy numerator, exact), printable-byte count, and Shannon
    * entropy quantized to micro-bits via the integer-histogram identity
    * `H = log2(n) - Σ c·log2(c) / n` — every input to the logs is an exact
    * integer, so cross-engine drift is bounded by libm ulps, far below the
    * 1e-6 quantum. Same single-histogram-pass mapPartitions shape as
    * [[byteStats]]; rows with empty payloads are dropped (the SQL oracle's
    * histogram has no rows for them).
    */
  def byteStatsExact(media: DataFrame): Dataset[ByteStatsExact] = {
    val spark = media.sparkSession
    import spark.implicits._
    val log2 = math.log(2.0)
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        val n = if (bytes == null) 0 else bytes.length
        if (n == 0) None
        else {
          val hist = new Array[Long](256)
          var printable = 0L
          var i = 0
          while (i < n) {
            val b = bytes(i) & 0xff
            hist(b) += 1
            if ((b >= 0x20 && b < 0x7f) || b == '\n' || b == '\r' || b == '\t') printable += 1
            i += 1
          }
          var distinct = 0L
          var coincidence = 0L
          var clogc = 0.0
          var j = 0
          while (j < 256) {
            val c = hist(j)
            if (c > 0) {
              distinct += 1
              coincidence += c * c
              clogc += c.toDouble * (math.log(c.toDouble) / log2)
            }
            j += 1
          }
          val entropy = math.log(n.toDouble) / log2 - clogc / n
          Some(ByteStatsExact(
            id, n.toLong, distinct, coincidence, printable,
            math.floor(entropy * 1e6 + 0.5).toLong
          ))
        }
      }
    }
  }

  /** Rebalance partitions by cumulative payload bytes: range-partition on the
    * running size quantile rather than hashing ids, so heavy payloads spread
    * evenly. (Row-count repartition is wrong for media: 1000 thumbnails !=
    * 1000 movies.)
    */
  def repartitionByBytes(media: DataFrame, targetPartitionBytes: Long): DataFrame = {
    val sized = media.withColumn("_sz", octet_length(col("content")).cast("long"))
    val total = sized.agg(sum(col("_sz"))).head.getLong(0)
    val parts = math.max(1, (total / targetPartitionBytes).toInt)
    sized.repartitionByRange(parts, col("_sz"), col("media_id")).drop("_sz")
  }

  /** Perceptual-hash fingerprints over the raw payload
    * ([[graft.functions.AHash64Expr]]: 64-cell average hash, exact
    * integer mean comparisons): the media-column member of the
    * fingerprint family — 8 bytes per payload from ONE codegen'd map-only
    * scan, no codec required, so it covers formats the decode path
    * cannot. Columns: media_id, n_bytes, ahash. Empty payloads drop (no
    * mean exists).
    */
  def ahashFingerprints(media: DataFrame): DataFrame =
    media
      .select(
        col("media_id"),
        col("meta.n_bytes").as("n_bytes"),
        graft.functions.AHash64Expr.column(col("content")).as("ahash"))
      .filter(col("ahash").isNotNull)

  /** Media near-dup pairs by Hamming distance over [[ahashFingerprints]]
    * — the SimHash banding discipline applied to the media column: 64/`chunks`-bit
    * chunk keys bucket the corpus (pigeonhole: Hamming ≤ chunks−1 ⇒ some
    * chunk matches exactly), candidate pairs explode inside buckets
    * capped at `maxBucket`, and one 8-byte-fingerprint join verifies
    * `bit_count(xor) ≤ maxHamming`. Never a media×media product; the
    * payloads themselves are read exactly once (the fingerprint scan).
    *
    * Unlike the md5-native SimHash face, every stage here is
    * engine-portable integer arithmetic, so the DuckDB oracle replays
    * the whole chain — banding, cap, and verification — bit-for-bit.
    */
  def ahashNearDupPairs(
      media: DataFrame,
      maxHamming: Int = 6,
      chunks: Int = 8,
      maxBucket: Int = 500): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    candidateHammings(media, chunks, maxBucket)
      .filter(col("hamming") <= maxHamming)
  }

  /** The banded candidate frame as a shareable build (optimization r16):
    * the pairs face, the histogram face, the curation verdicts, and the
    * media-vs-text kappa each re-ran the fingerprint + banding chain —
    * all four are filters/aggregations over this one frame.
    */
  def ahashCandidateHammings(
      media: DataFrame,
      chunks: Int = 8,
      maxBucket: Int = 500): DataFrame =
    candidateHammings(media, chunks, maxBucket)

  /** [[ahashNearDupPairs]] off a shared [[ahashCandidateHammings]] frame
    * (result-identical: the pairs face IS the hamming filter).
    */
  def ahashNearDupPairsFrom(cands: DataFrame, maxHamming: Int = 6, chunks: Int = 8): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    cands.filter(col("hamming") <= maxHamming)
  }

  /** [[ahashHammingHist]] off a shared [[ahashCandidateHammings]] frame. */
  def ahashHammingHistFrom(cands: DataFrame): DataFrame =
    cands.groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))

  /** The measured separation behind [[ahashNearDupPairs]]: the Hamming-
    * distance histogram over every BANDED candidate pair. This is the
    * row that makes a zero-pair result legible — at sf0.01 the corpus
    * simply has no media near-dups (the closest candidate sits at
    * distance 10, deep in the unrelated-pair background), while sf0.1's
    * planted exact dups show up at distance 0 with a clean gap above.
    */
  def ahashHammingHist(
      media: DataFrame,
      chunks: Int = 8,
      maxBucket: Int = 500): DataFrame =
    candidateHammings(media, chunks, maxBucket)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Shot-boundary detection over the chunked payload — the
    * frame-sampling story completed into an operator: every
    * `chunkBytes` slice gets its perceptual hash
    * ([[graft.functions.AHash64Expr]] inside the chunk explode, still
    * codec-free), consecutive chunks compare by Hamming distance, and a
    * transition is flagged a boundary when it sits in the corpus's top
    * (1−p) sharpest transitions — the threshold is the EXACT
    * nearest-rank p-quantile of all transition distances (the
    * conformal-gate order-statistic idiom: one global rank off
    * [[Ranking.globalRowNumber]], a driver scalar), so the flag adapts
    * to the payload population instead of hard-coding a magic number.
    *
    * On this corpus the honest reading is "no shots": word-salad
    * stand-in payloads put within-doc transitions at the same ~30-bit
    * background as across-doc pairs, so only the extreme tail flags —
    * the planted-segments spec shows the detector firing exactly at
    * real seams (the curation_order_report discipline: a quiet row
    * backed by a live-detector fixture).
    *
    * Columns: media_id, chunk_idx, hamming_prev (−1 for each payload's
    * first chunk — excluded from the quantile, never a boundary),
    * p_threshold (the corpus-wide order statistic, constant column),
    * is_boundary. Scale shape: the lag window partitions per media_id
    * (chunks-per-payload bounded); the quantile is one distributed
    * rank, no global sort materializes.
    */
  def shotBoundaries(
      media: DataFrame,
      chunkBytes: Int = 256,
      pNum: Long = 95L,
      pDen: Long = 100L): DataFrame = {
    require(pNum > 0 && pNum <= pDen, "need 0 < p <= 1")
    import org.apache.spark.sql.expressions.Window
    val ch = chunked(media.filter(octet_length(col("content")) > 0), chunkBytes)
      .select(col("media_id"), posexplode(col("chunks")).as(Seq("chunk_idx", "chunk")))
      .select(
        col("media_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        graft.functions.AHash64Expr.column(col("chunk")).as("ahash"))
    val w = Window.partitionBy(col("media_id")).orderBy(col("chunk_idx"))
    val seq0 = ch
      .withColumn("prev", lag(col("ahash"), 1).over(w))
      .select(
        col("media_id"), col("chunk_idx"),
        when(col("prev").isNull, lit(-1))
          .otherwise(Dedup.hamming64(col("ahash"), col("prev")).cast("int"))
          .as("hamming_prev"))
      .localCheckpoint(eager = true) // feeds the quantile and the flags
    val trans = seq0.filter(col("hamming_prev") >= 0)
    val n = trans.count() // driver scalar: one long
    val thr: Long =
      if (n == 0) Long.MaxValue // no transitions: nothing can flag
      else {
        val k = (pNum * n + pDen - 1) / pDen // ceil(p·n): nearest-rank
        Ranking
          .globalRowNumber(
            trans,
            Seq(col("hamming_prev").asc, col("media_id").asc, col("chunk_idx").asc),
            "rk")
          .filter(col("rk") === k)
          .select(col("hamming_prev"))
          .head() // driver scalar: the single order-statistic row
          .getInt(0).toLong
      }
    seq0.select(
      col("media_id"), col("chunk_idx"), col("hamming_prev"),
      lit(thr).as("p_threshold"),
      // STRICTLY above the order statistic (the saxWords strict-> symbol
      // convention): a tie-heavy population (many identical-chunk
      // payloads put the p95 AT zero) must not flag everything
      (col("hamming_prev") >= 0 && col("hamming_prev") > thr).cast("int").as("is_boundary"))
  }

  /** The media curation composite: the new media family closed into one
    * verdict per payload, the curation_pipeline discipline applied to the
    * binary column. Gates in deterministic precedence order:
    *
    *   1. `tiny`         — n_bytes < minBytes (nothing to learn from);
    *   2. `low_entropy`  — byte entropy below `loEntropyMicro` µbits
    *      (constant/degenerate payloads);
    *   3. `high_entropy` — above `hiEntropyMicro` µbits (already-compressed
    *      or encrypted bytes masquerading as decodable media);
    *   4. `dup`          — has a lower-id perceptual near-dup partner
    *      ([[ahashNearDupPairs]], Hamming ≤ 6);
    *   5. `keep`.
    *
    * Exactness: sizes/entropy ride [[byteStatsExact]] (micro-quantized,
    * already oracle-green as `media_byte_stats`), the dup flag rides the
    * oracle-green aHash chain — so the whole composite hash-compares.
    * One payload scan for stats, one for fingerprints; the verdict is
    * joins over id-sized frames.
    */
  def curationFlags(
      media: DataFrame,
      minBytes: Long = 64L,
      loEntropyMicro: Long = 1500000L,
      hiEntropyMicro: Long = 7800000L,
      nearDupPairs: Option[DataFrame] = None): DataFrame = {
    val stats = byteStatsExact(media).toDF()
      .select(col("media_id"), col("n_bytes"), col("entropy_micro"))
    // nearDupPairs injects a shared ahashNearDupPairs frame (r16) — must
    // equal ahashNearDupPairs(media) at the default knobs
    val dups = nearDupPairs.getOrElse(ahashNearDupPairs(media))
      .select(col("id_b").as("media_id")).distinct()
      .withColumn("is_dup", lit(1))
    media.select(col("media_id"), col("meta.source").as("source"))
      .join(stats, Seq("media_id"), "left") // empty payloads have no stats row
      .join(dups, Seq("media_id"), "left")
      .select(
        col("media_id"), col("source"),
        coalesce(col("n_bytes"), lit(0L)).as("n_bytes"),
        coalesce(col("entropy_micro"), lit(0L)).as("entropy_micro"),
        when(coalesce(col("n_bytes"), lit(0L)) < minBytes, "tiny")
          .when(col("entropy_micro") < loEntropyMicro, "low_entropy")
          .when(col("entropy_micro") > hiEntropyMicro, "high_entropy")
          .when(col("is_dup") === 1, "dup")
          .otherwise("keep").as("action"))
  }

  /** Per-source census of [[curationFlags]] — the health row a media
    * ingest run records: totals, drops by gate, keeps, kept share in
    * round-half-up bps.
    */
  def curationReport(
      media: DataFrame,
      minBytes: Long = 64L,
      loEntropyMicro: Long = 1500000L,
      hiEntropyMicro: Long = 7800000L,
      nearDupPairs: Option[DataFrame] = None): DataFrame =
    curationFlags(media, minBytes, loEntropyMicro, hiEntropyMicro, nearDupPairs)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(when(col("action") === "tiny", 1L).otherwise(0L)).as("n_tiny"),
        sum(when(col("action") === "low_entropy", 1L).otherwise(0L)).as("n_low_entropy"),
        sum(when(col("action") === "high_entropy", 1L).otherwise(0L)).as("n_high_entropy"),
        sum(when(col("action") === "dup", 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("action") === "keep", 1L).otherwise(0L)).as("n_keep"))
      .withColumn("kept_bps", expr("(20000 * n_keep + n_media) DIV (2 * n_media)"))

  /** Banded candidate pairs with their exact Hamming distances — the
    * shared core of the pairs and histogram faces.
    */
  private def candidateHammings(
      media: DataFrame,
      chunks: Int,
      maxBucket: Int): DataFrame = {
    // chunks=1 would make w=64 and `(1L << w) - 1` wrap to 0 (Java shifts
    // mod 64): every chunk value collapses and all payloads share one
    // bucket. The pairs face already implies 2+ via maxHamming < chunks;
    // the histogram face reaches here directly, so enforce it for both.
    require(chunks >= 2 && 64 % chunks == 0, "chunks must be >= 2 and divide 64")
    // fingerprints feed banding + both verification sides; 16 bytes/doc
    val fps = ahashFingerprints(media)
      .select(col("media_id").as("id"), col("ahash").as("h64"))
      .localCheckpoint(eager = true)
    bandedHammings(fps, chunks, maxBucket)
  }

  /** Pigeonhole-banded Hamming verification over ANY 64-bit fingerprint
    * frame `(id: long, h64: long)` — the byte-aHash and pixel-pHash
    * faces share this core. 64/`chunks`-bit chunk keys bucket the ids
    * (Hamming ≤ chunks−1 ⇒ some chunk matches exactly), pairs explode
    * inside buckets capped at `maxBucket`, and one fingerprint join
    * computes the exact xor-popcount. Caller must pass a materialized
    * (checkpointed) frame: it is read three times.
    */
  private def bandedHammings(
      fps: DataFrame,
      chunks: Int,
      maxBucket: Int): DataFrame = {
    require(chunks >= 2 && 64 % chunks == 0, "chunks must be >= 2 and divide 64")
    val w = 64 / chunks
    val chunkKeys = (0 until chunks).map { c =>
      struct(
        lit(c).as("c"),
        shiftrightunsigned(col("h64"), c * w).bitwiseAND(lit((1L << w) - 1)).as("v"))
    }
    val pairs = fps
      .select(col("id"), explode(array(chunkKeys: _*)).as("ck"))
      .groupBy(col("ck"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(Dedup.orderedPairs(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(fps.select(col("id").as("id_a"), col("h64").as("ha")), Seq("id_a"))
      .join(fps.select(col("id").as("id_b"), col("h64").as("hb")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        Dedup.hamming64(col("ha"), col("hb")).cast("int").as("hamming"))
  }

  // ------------------------------------------------------------------
  // Pixel-domain perceptual hashing (round 13). The byte-domain aHash
  // above is an exact-dup gate: re-encoding the same image changes every
  // payload byte (media_vs_text_dedup_kappa measured κ = 0.058 against
  // text MinHash). The pixel face decodes first — through the REAL JDK
  // ImageIO path — so two encodings of the same pixels hash identically.
  // ------------------------------------------------------------------

  /** Side of the synthetic twin images: 32 keeps both BMP forms free of
    * row padding (3·32 and 32 are 4-byte aligned) and the pHash grid
    * exact (32 = 4·8).
    */
  final val PhashSide = 32

  private def le4(buf: Array[Byte], off: Int, v: Int): Unit = {
    buf(off) = (v & 0xff).toByte; buf(off + 1) = ((v >> 8) & 0xff).toByte
    buf(off + 2) = ((v >> 16) & 0xff).toByte; buf(off + 3) = ((v >> 24) & 0xff).toByte
  }

  /** Hand-built 24-bit BMP of a square grayscale grid (B=G=R=v, rows
    * bottom-up per the format). Built by hand — NOT via ImageIO's
    * encoder — so the byte stream is a pure function of the pixels and a
    * SQL oracle reconstructs it byte-for-byte; ImageIO still DECODES it,
    * which is the round-trip the pixel hash is measured through.
    */
  def bmp24(px: Array[Int], side: Int): Array[Byte] = {
    require(px.length == side * side, "pixel grid must be side x side")
    require((side * 3) % 4 == 0, "side must keep 24-bit rows 4-byte aligned")
    val rowSize = side * 3
    val data = rowSize * side
    val out = new Array[Byte](54 + data)
    out(0) = 'B'; out(1) = 'M'
    le4(out, 2, 54 + data); le4(out, 10, 54)
    le4(out, 14, 40); le4(out, 18, side); le4(out, 22, side)
    out(26) = 1; out(28) = 24
    le4(out, 34, data); le4(out, 38, 2835); le4(out, 42, 2835)
    var fy = 0
    while (fy < side) {
      val y = side - 1 - fy
      var x = 0
      while (x < side) {
        val v = px(y * side + x).toByte
        val o = 54 + fy * rowSize + x * 3
        out(o) = v; out(o + 1) = v; out(o + 2) = v
        x += 1
      }
      fy += 1
    }
    out
  }

  /** Hand-built 8-bit palettized BMP of the same grid — the identity
    * gray ramp as palette, one byte per pixel. Decodes to pixels
    * IDENTICAL to [[bmp24]]'s while sharing almost no payload bytes
    * with it: the re-encoded-duplicate fixture the byte-domain hash
    * provably misses and the pixel-domain hash provably catches.
    */
  def bmp8(px: Array[Int], side: Int): Array[Byte] = {
    require(px.length == side * side, "pixel grid must be side x side")
    require(side % 4 == 0, "side must keep 8-bit rows 4-byte aligned")
    val data = side * side
    val out = new Array[Byte](54 + 1024 + data)
    out(0) = 'B'; out(1) = 'M'
    le4(out, 2, 54 + 1024 + data); le4(out, 10, 54 + 1024)
    le4(out, 14, 40); le4(out, 18, side); le4(out, 22, side)
    out(26) = 1; out(28) = 8
    le4(out, 34, data); le4(out, 38, 2835); le4(out, 42, 2835)
    le4(out, 46, 256)
    var i = 0
    while (i < 256) {
      val o = 54 + i * 4
      out(o) = i.toByte; out(o + 1) = i.toByte; out(o + 2) = i.toByte
      i += 1
    }
    var fy = 0
    while (fy < side) {
      val y = side - 1 - fy
      var x = 0
      while (x < side) { out(54 + 1024 + fy * side + x) = px(y * side + x).toByte; x += 1 }
      fy += 1
    }
    out
  }

  /** Deterministic DECODABLE image corpus off the documents table: each
    * non-empty doc becomes one `side`×`side` grayscale image — pixel p
    * (row-major) is text byte `p mod n` — emitted TWICE with identical
    * pixels and disjoint encodings: media_id 2·doc_id as 24-bit BMP,
    * 2·doc_id+1 as 8-bit palettized BMP. Both are real BMPs the JDK
    * decodes; both byte streams are pure functions of the text bytes, so
    * the oracle replays the pixel hash AND the byte hash of each
    * encoding. Map-only, one pass, ~5 KB emitted per doc.
    */
  def syntheticImageCorpus(docs: DataFrame, side: Int = PhashSide): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (docId, text, source) =>
          val bytes = if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
          if (bytes.isEmpty) Iterator.empty
          else {
            val px = new Array[Int](side * side)
            var p = 0
            while (p < px.length) { px(p) = bytes(p % bytes.length) & 0xff; p += 1 }
            Iterator(
              (docId * 2, bmp24(px, side), source),
              (docId * 2 + 1, bmp8(px, side), source))
          }
        }
      }
      .toDF("media_id", "content", "source")
      .select(
        col("media_id"),
        col("content"),
        struct(
          lit("image/bmp").as("mime"),
          octet_length(col("content")).cast("long").as("n_bytes"),
          col("source").as("source")).as("meta"))
  }

  final case class PixelPhash(
      media_id: Long,
      width: Int,
      height: Int,
      phash: Option[Long],
      ok: Boolean)

  /** Pixel-domain perceptual hash: decode (real ImageIO — PNG / JPEG /
    * GIF / BMP), integer luma `(299r+587g+114b)/1000` per pixel, 8×8
    * grid of exact integer box means (pixel (x,y) → cell
    * (⌊y·8/h⌋·8 + ⌊x·8/w⌋), any dimensions), bit set iff the cell mean
    * exceeds the global mean — the [[graft.functions.AHash]] cross-
    * multiplied comparison in unsigned 128-bit, exact for any decodable
    * image. Gray payloads make luma ≡ the gray value, so PNG/BMP/
    * palette round-trips hash identically. Undecodable payloads degrade
    * to ok=false (null hash) — a poison payload must never kill a
    * stage. One mapPartitions pass; 8 bytes out per payload.
    */
  def phashPixels(media: DataFrame): Dataset[PixelPhash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        decodeOne(bytes) match {
          case Some((img, _)) =>
            val (sums, cnts, total, nPix) = grid8(img)
            PixelPhash(id, img.getWidth, img.getHeight,
              Some(ahashOfGrid(sums, cnts, total, nPix)), ok = true)
          case None => PixelPhash(id, 0, 0, None, ok = false)
        }
      }
    }
  }

  /** 8×8 exact integer box accumulation of a decoded image: per-cell luma
    * sums and pixel counts plus the global total — the shared grid every
    * pixel-domain hash thresholds over. Single-band 8-bit gray reads the
    * RAW raster sample (getRGB would push it through the CS_GRAY→sRGB
    * colorspace transform — 76 becomes 148 — destroying the exactness the
    * oracle replays); anything else takes integer luma off getRGB.
    */
  private def grid8(
      img: java.awt.image.BufferedImage): (Array[Long], Array[Long], Long, Long) = {
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val rawGray = raster.getNumBands == 1 &&
      img.getColorModel.getPixelSize == 8 &&
      img.getColorModel.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val cy = (y.toLong * 8 / h).toInt * 8
      var x = 0
      while (x < w) {
        val luma =
          if (rawGray) raster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            (299 * r + 587 * g + 114 * b) / 1000
          }
        val c = cy + (x.toLong * 8 / w).toInt
        sums(c) += luma; cnts(c) += 1; total += luma
        x += 1
      }
      y += 1
    }
    (sums, cnts, total, w.toLong * h)
  }

  /** Mean hash off the shared grid: bit c iff cell c's mean exceeds the
    * global mean (exact 128-bit cross-multiplied compare).
    */
  def ahashOfGrid(sums: Array[Long], cnts: Array[Long], total: Long, nPix: Long): Long = {
    var hash = 0L
    var c = 0
    while (c < 64) {
      if (cnts(c) > 0 &&
        graft.functions.AHash.meanGt(sums(c), cnts(c), total, nPix)) hash |= (1L << c)
      c += 1
    }
    hash
  }

  /** Gradient hash (dHash) off the shared grid: bit r·8+c iff the mean of
    * the horizontally-NEXT cell (wraparound, (c+1) mod 8) exceeds cell
    * (r,c)'s mean — 64 horizontal gradient signs instead of 64
    * level-vs-global-mean signs. The point of the gradient form: any
    * MONOTONE per-pixel level remap (gamma compression, contrast curves
    * — what lossy re-encoders apply) preserves the order of
    * non-interleaving cell distributions, so dHash survives level
    * surgery that moves every cell relative to the global mean and makes
    * aHash bits flip. Exact 128-bit cross-multiplied compares; a bit
    * with an empty cell on either side stays 0.
    */
  def dhashOfGrid(sums: Array[Long], cnts: Array[Long]): Long = {
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val a = r * 8 + c
        val b = r * 8 + ((c + 1) % 8)
        if (cnts(a) > 0 && cnts(b) > 0 &&
          graft.functions.AHash.meanGt(sums(b), cnts(b), sums(a), cnts(a)))
          hash |= (1L << a)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** One-payload pixel gradient hash: decode (real ImageIO) → shared
    * 8×8 grid → [[dhashOfGrid]]; None when undecodable. The per-record
    * form the STREAMING claim protocol maps over
    * ([[graft.streaming.StreamingDedup.dhashChunkClaims]]) — the batch
    * perturbation matrix crowned the gradient hash
    * (`media_perturbation_matrix` / `media_dedup_auto`), so the stream
    * keys on the measured winner instead of the byte-domain hash.
    */
  def pixelDhashOf(bytes: Array[Byte]): Option[Long] =
    decodeOne(bytes).map { case (img, _) =>
      val (sums, cnts, _, _) = grid8(img)
      dhashOfGrid(sums, cnts)
    }

  /** Spectral hash (wHash) off the shared grid: the 2-D Walsh–Hadamard
    * transform of the 8×8 cell sums — the integer-exact stand-in for
    * pHash's DCT (same sequency-ordered frequency story, but every
    * coefficient is a ±1-weighted integer sum: W[u][v] =
    * Σ (−1)^(popcount(r&u)+popcount(c&v)) · s[r·8+c], |W| ≤ 64·max cell
    * sum). Bit u·8+v (skipping the DC term at 0) is set iff the
    * coefficient exceeds the exact lower median of the 63 non-DC
    * coefficients — pHash's median thresholding, order-statistic exact.
    * Defined only when all 64 cells hold the same pixel count (8 | w and
    * 8 | h) so the sums ARE scaled means; None otherwise.
    */
  def whashOfGrid(sums: Array[Long], cnts: Array[Long]): Option[Long] = {
    val n0 = cnts(0)
    if (n0 == 0) return None
    var i = 1
    while (i < 64) { if (cnts(i) != n0) return None; i += 1 }
    val coef = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) {
            val par = (java.lang.Integer.bitCount(r & u) +
              java.lang.Integer.bitCount(c & v)) & 1
            val s = sums(r * 8 + c)
            acc += (if (par == 0) s else -s)
            c += 1
          }
          r += 1
        }
        coef(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val nonDc = java.util.Arrays.copyOfRange(coef, 1, 64)
    java.util.Arrays.sort(nonDc)
    val med = nonDc(31) // lower median (rank 32 of 63)
    var hash = 0L
    i = 1
    while (i < 64) {
      if (coef(i) > med) hash |= (1L << i)
      i += 1
    }
    Some(hash)
  }

  final case class MediaPerceptualHashes(
      media_id: Long,
      ahash: Option[Long],
      dhash: Option[Long],
      whash: Option[Long],
      ok: Boolean)

  /** All three pixel-domain perceptual hashes — mean ([[ahashOfGrid]]),
    * gradient ([[dhashOfGrid]]), spectral ([[whashOfGrid]]) — in ONE
    * decode pass over the payload column: the grid accumulates once, each
    * hash is a different thresholding of the same 64 cell sums. Map-only,
    * 24 bytes out per payload; undecodable payloads degrade to ok=false.
    */
  def perceptualHashes(media: DataFrame): Dataset[MediaPerceptualHashes] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        decodeOne(bytes) match {
          case Some((img, _)) =>
            val (sums, cnts, total, nPix) = grid8(img)
            MediaPerceptualHashes(
              id,
              Some(ahashOfGrid(sums, cnts, total, nPix)),
              Some(dhashOfGrid(sums, cnts)),
              whashOfGrid(sums, cnts),
              ok = true)
          case None => MediaPerceptualHashes(id, None, None, None, ok = false)
        }
      }
    }
  }

  /** Pixel-domain near-dup pairs: [[phashPixels]] fingerprints (ONE
    * decode pass, checkpointed — 8 bytes/payload downstream), then the
    * same pigeonhole chunk banding + xor-popcount verify as the byte
    * face ([[bandedHammings]]). Catches what the byte hash cannot: two
    * encodings of the same pixels land at Hamming 0.
    */
  def phashPixelPairs(
      media: DataFrame,
      maxHamming: Int = 6,
      maxBucket: Int = 500): DataFrame =
    phashPixelPairsFrom(
      phashPixels(media).toDF()
        .filter(col("ok") && col("phash").isNotNull)
        .select(col("media_id").as("id"), col("phash").as("h64"))
        .localCheckpoint(eager = true),
      maxHamming, maxBucket)

  /** [[phashPixelPairs]] off an already-decoded (possibly memoized)
    * (id, h64) pixel-hash frame — optimization r15: the ImageIO decode is
    * the expensive leg, and the registry shares ONE decode pass with
    * media_phash_vs_bytehash instead of re-decoding per query per pass.
    */
  def phashPixelPairsFrom(
      fps: DataFrame,
      maxHamming: Int = 6,
      maxBucket: Int = 500): DataFrame =
    // multiprobe, not symmetric 8-bit buckets: at 10k twin images the
    // 2⁸-buckets-per-index explosion costs ~4.5 s (the auto gate measured
    // 21 s at 20k) — the 16-bit probe join is the scale shape
    bandedHammingsMultiprobe(fps, maxHamming, maxBucket)

  /** The calibration row for the pixel face: over the twin corpus
    * ([[syntheticImageCorpus]] — every doc present as BMP24 and BMP8 of
    * identical pixels), compare the pixel-hash and byte-hash verdicts on
    * each re-encoded pair. Pixel pHash is decode-invariant, so every
    * twin pair sits at Hamming 0 (all caught); the byte aHash sees two
    * unrelated byte streams (headers, palette, layout all differ), so
    * the same pairs sit ~32 bits apart (none caught) — the measured
    * statement of WHY the pixel face exists, fully oracle-replayed
    * because both encodings are hand-built deterministic byte streams.
    * One row: n_pairs, n_pixel_caught, n_byte_caught, max_pixel_hamming,
    * min_byte_hamming.
    */
  def phashVsByteHash(docs: DataFrame, side: Int = PhashSide): DataFrame = {
    val corpus = syntheticImageCorpus(docs, side).localCheckpoint(eager = true)
    phashVsByteHashFrom(
      corpus,
      phashPixels(corpus).toDF().filter(col("ok")).select(col("media_id"), col("phash")))
  }

  /** [[phashVsByteHash]] off a shared twin corpus and its decoded pixel
    * hashes — the same shared-decode rationale as [[phashPixelPairsFrom]].
    */
  def phashVsByteHashFrom(corpus: DataFrame, ph: DataFrame): DataFrame = {
    val bh = corpus.select(
      col("media_id"),
      graft.functions.AHash64Expr.column(col("content")).as("bhash"))
    val hashes = ph.join(bh, Seq("media_id"))
      .select(
        expr("media_id DIV 2").as("doc_id"),
        (col("media_id") % 2).as("enc"),
        col("phash"), col("bhash"))
    val perDoc = hashes.filter(col("enc") === 0)
      .select(col("doc_id"), col("phash").as("pa"), col("bhash").as("ba"))
      .join(
        hashes.filter(col("enc") === 1)
          .select(col("doc_id"), col("phash").as("pb"), col("bhash").as("bb")),
        Seq("doc_id"))
      .select(
        Dedup.hamming64(col("pa"), col("pb")).cast("int").as("pixel_hamming"),
        Dedup.hamming64(col("ba"), col("bb")).cast("int").as("byte_hamming"))
    perDoc.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("pixel_hamming") <= 6, 1L).otherwise(0L)).as("n_pixel_caught"),
      sum(when(col("byte_hamming") <= 6, 1L).otherwise(0L)).as("n_byte_caught"),
      max(col("pixel_hamming")).as("max_pixel_hamming"),
      min(col("byte_hamming")).as("min_byte_hamming"))
  }

  /** Deterministic gamma-compression remap `v → v²/255` — a MONOTONE
    * nondecreasing integer level curve (quadratic darkening, the shape a
    * gamma-2.0 encode applies), pure integer both sides of the oracle.
    */
  def gammaRemap(v: Int): Int = (v * v) / 255

  /** Deterministic per-pixel pseudo-noise in [−3, +3]: a Knuth-hash of
    * (doc, pixel) — doc id reduced mod 2²⁰ FIRST so the product stays in
    * long range for any id (no overflow, so DuckDB's non-wrapping BIGINT
    * replays it term-for-term).
    */
  def noiseRemap(docId: Long, p: Int, v: Int): Int = {
    val h = (((docId % 1048576L) * 1024L + p) * 2654435761L) % 4294967296L % 7L
    math.min(255, math.max(0, v + h.toInt - 3))
  }

  /** The perturbation-twin corpus: each non-empty doc becomes FOUR images
    * of media_id 4·doc_id + k — k=0 the original pixels as 24-bit BMP,
    * k=1 the SAME pixels re-encoded (8-bit palettized BMP: disjoint byte
    * stream, identical pixels), k=2 the gamma-remapped pixels
    * ([[gammaRemap]]: every level moves, order preserved), k=3 the
    * noise-perturbed pixels ([[noiseRemap]]: ±3 per pixel). The three
    * perturbation CLASSES separate the three perceptual hashes: exact
    * re-encoding tests decode-invariance (all should catch), the
    * monotone level remap tests gradient-vs-level thresholds, additive
    * noise tests averaging robustness. Map-only, one pass, ~8 KB per doc.
    */
  def perturbedImageCorpus(docs: DataFrame, side: Int = PhashSide): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (docId, text, source) =>
          val bytes = if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
          if (bytes.isEmpty) Iterator.empty
          else {
            val px = new Array[Int](side * side)
            var p = 0
            while (p < px.length) { px(p) = bytes(p % bytes.length) & 0xff; p += 1 }
            val gam = new Array[Int](px.length)
            val noi = new Array[Int](px.length)
            p = 0
            while (p < px.length) {
              gam(p) = gammaRemap(px(p))
              noi(p) = noiseRemap(docId, p, px(p))
              p += 1
            }
            Iterator(
              (docId * 4, bmp24(px, side), source),
              (docId * 4 + 1, bmp8(px, side), source),
              (docId * 4 + 2, bmp24(gam, side), source),
              (docId * 4 + 3, bmp24(noi, side), source))
          }
        }
      }
      .toDF("media_id", "content", "source")
      .select(
        col("media_id"),
        col("content"),
        struct(
          lit("image/bmp").as("mime"),
          octet_length(col("content")).cast("long").as("n_bytes"),
          col("source").as("source")).as("meta"))
  }

  /** The perceptual-hash coverage matrix — which hash catches which
    * perturbation class, MEASURED: over [[perturbedImageCorpus]], each
    * variant pairs with its own original (id-join, never media×media),
    * and each of the 3 classes × 3 hashes rows reports pairs, catches at
    * `maxHamming`, and the exact Hamming mass/extremes. ONE decode pass
    * ([[perceptualHashes]], checkpointed — 24 bytes/payload downstream).
    * The honest expectation this row exists to price: re-encoding is
    * caught by all three at Hamming 0 (decode-invariance); the monotone
    * level remap favors the gradient hash over the mean hash; per-pixel
    * noise favors the box-averaging hashes — and the measured matrix, not
    * the folklore, is what a curation pipeline should pick its media
    * dedup gate from.
    */
  def perturbationMatrix(
      docs: DataFrame,
      side: Int = PhashSide,
      maxHamming: Int = 6): DataFrame =
    perturbationMatrixFromHashes(perturbedHashes(docs, side), maxHamming)

  /** ONE decode+hash pass over [[perturbedImageCorpus]], checkpointed —
    * the frame both registered perceptual faces read (SparkEntry shares
    * it per (session, sfDir)).
    */
  def perturbedHashes(docs: DataFrame, side: Int = PhashSide): DataFrame = {
    val corpus = perturbedImageCorpus(docs, side)
    perceptualHashes(corpus).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("ahash"), col("dhash"), col("whash"))
      .localCheckpoint(eager = true)
  }

  /** Pigeonhole MULTIPROBE banding — the Hamming ≤ `maxHamming` (≤ 7)
    * candidate chain for corpora past the 8-bit-chunk occupancy wall
    * (measured in the streaming face: 2⁸ buckets/index saturate past
    * ~10³ distinct payloads, and the batch 8-chunk explosion goes
    * quadratic the same way — the first registered run of the auto gate
    * paid 21 s at 20k hashes). Shape: 4 chunks of 16 bits; ≤ 7 differing
    * bits leave SOME chunk with ≤ 1 (pigeonhole over 4 chunks at h ≤ 7),
    * so the stored side keeps each exact 16-bit chunk value and the
    * probe side emits the value plus its 16 single-bit flips — one
    * equi-join on (chunk, key) over 2¹⁶ buckets per index, candidates
    * linear instead of bucket-quadratic. Lossless for h ≤ 7 up to the
    * same degenerate-bucket cap as the 8-chunk face; xor-popcount
    * verifies as before.
    */
  private def bandedHammingsMultiprobe(
      fps: DataFrame,
      maxHamming: Int,
      maxBucket: Int): DataFrame = {
    require(maxHamming <= 7, "4-chunk single-flip multiprobe covers Hamming <= 7")
    def chunk(c: Int) =
      shiftrightunsigned(col("h64"), c * 16).bitwiseAND(lit(0xFFFFL))
    val storedKeys = (0 until 4).map(c => struct(lit(c).as("c"), chunk(c).as("v")))
    val stored = fps
      .select(col("id"), explode(array(storedKeys: _*)).as("ck"))
    // degenerate-value guard, same contract as the 8-chunk face: a stored
    // key carried by more than maxBucket payloads is boilerplate — drop it
    // upper cap only: a SINGLETON stored key still pairs with a different
    // id probing in through a bit flip, so the symmetric faces' bn >= 2
    // floor would break losslessness here
    val ok = stored.groupBy(col("ck")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket)
      .select(col("ck"))
    val probeKeys = for { c <- 0 until 4; m <- 0 to 16 } yield {
      val v = if (m == 0) chunk(c) else chunk(c).bitwiseXOR(lit(1L << (m - 1)))
      struct(lit(c).as("c"), v.as("v"))
    }
    val probes = fps
      .select(col("id").as("pid"), explode(array(probeKeys: _*)).as("ck"))
    val pairs = probes
      .join(ok, Seq("ck"))
      .join(stored.select(col("ck"), col("id").as("sid")), Seq("ck"))
      .filter(col("pid") < col("sid"))
      .select(col("pid").as("id_a"), col("sid").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(fps.select(col("id").as("id_a"), col("h64").as("ha")), Seq("id_a"))
      .join(fps.select(col("id").as("id_b"), col("h64").as("hb")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        Dedup.hamming64(col("ha"), col("hb")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The perturbation matrix ENCODED as the media dedup gate (the
    * `ann_filtered_auto` discipline on the media column): stage 1 totals
    * each hash's catches across the three perturbation classes, stage 2
    * runs the pigeonhole-banded near-dup chain with the WINNING hash —
    * measured choice, deterministic ties (higher total wins, then
    * lexicographically-first hash name), the decision riding every pair
    * row. The choice is a min-of-struct aggregate collected as one
    * bounded driver scalar (it selects a COLUMN, which no distributed
    * expression can do); the hash frame is the shared one-decode
    * checkpoint, so the auto face adds only the banded chain — the
    * MULTIPROBE one ([[bandedHammingsMultiprobe]]): the first registered
    * run measured the 8-bit-chunk explosion at 21 s on 20k hashes, the
    * same occupancy wall the streaming face priced.
    */
  def mediaDedupAuto(
      hashes: DataFrame,
      maxHamming: Int = 6,
      maxBucket: Int = 500): DataFrame =
    mediaDedupAutoFrom(hashes, perturbationMatrixFromHashes(hashes, maxHamming),
      maxHamming, maxBucket)

  /** [[mediaDedupAuto]] with the perturbation matrix injected — the gate's
    * decision scalar derives from the SAME matrix media_perturbation_matrix
    * reports, so the registry shares one (possibly memoized) matrix build
    * between the two faces (optimization r15).
    */
  def mediaDedupAutoFrom(
      hashes: DataFrame,
      matrix: DataFrame,
      maxHamming: Int = 6,
      maxBucket: Int = 500): DataFrame = {
    val totals = matrix
      .groupBy(col("hash"))
      .agg(sum(col("n_caught")).as("tot"))
      // min of (−total, name): max total, tie → lexicographically first
      .agg(min(struct((-col("tot")).as("nt"), col("hash").as("h"))).as("w"))
      .select(col("w.h"))
      .collect() // one row — the planner's decision scalar
    // empty corpus: min over zero rows yields a null struct — default to
    // the lexicographically-first hash (the tie rule's own answer at
    // all-zero totals), so the empty frame flows through instead of NPEing
    val chosen = Option(totals(0).getString(0)).getOrElse("ahash")
    val fps = hashes
      .select(col("media_id").as("id"), col(chosen).as("h64"))
      .filter(col("h64").isNotNull)
    bandedHammingsMultiprobe(fps, maxHamming, maxBucket)
      .withColumn("chosen_hash", lit(chosen))
  }

  /** [[perturbationMatrix]] off a prebuilt [[perturbedHashes]] frame. */
  def perturbationMatrixFromHashes(
      hashes: DataFrame,
      maxHamming: Int = 6): DataFrame = {
    val ph = hashes.select(
      expr("media_id DIV 4").as("doc_id"),
      (col("media_id") % 4).as("k"),
      col("ahash"), col("dhash"), col("whash"))
    val orig = ph.filter(col("k") === 0)
      .select(col("doc_id"), col("ahash").as("a0"), col("dhash").as("d0"), col("whash").as("w0"))
    val pairs = ph.filter(col("k") =!= 0).join(orig, Seq("doc_id"))
    val perHash = pairs.select(
      col("k"),
      explode(array(
        struct(lit("ahash").as("hash"), Dedup.hamming64(col("ahash"), col("a0")).as("hamming")),
        struct(lit("dhash").as("hash"), Dedup.hamming64(col("dhash"), col("d0")).as("hamming")),
        struct(lit("whash").as("hash"), Dedup.hamming64(col("whash"), col("w0")).as("hamming"))
      )).as("e"))
      .select(
        when(col("k") === 1, "reencode")
          .when(col("k") === 2, "gamma")
          .otherwise("noise").as("klass"),
        col("e.hash").as("hash"),
        col("e.hamming").cast("int").as("hamming"))
      .filter(col("hamming").isNotNull)
    perHash
      .groupBy(col("klass"), col("hash"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("hamming") <= maxHamming, 1L).otherwise(0L)).as("n_caught"),
        sum(col("hamming").cast("long")).as("sum_hamming"),
        max(col("hamming")).as("max_hamming"))
  }
}
