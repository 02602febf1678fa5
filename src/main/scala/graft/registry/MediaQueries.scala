package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.registry.Shared._

/** Media queries over the payloads decoded from `documents` and the small
  * hand-built image corpus: byte statistics, chunking, shot boundaries, aHash
  * and perceptual hashes, the perturbation catch matrix and the media-vs-text
  * dedup agreement.
  */
object MediaQueries {

  /** ONE decode+hash pass over the perturbation-twin corpus, shared by
    * media_perceptual_hashes and media_perturbation_matrix (each
    * previously ran its own ~2.8 s decode at sf0.1).
    */
  private def sharedPerturbedHashes(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "perturbedHashes") {
      Multimodal.perturbedHashes(table(s, dir, "documents"))
    }

  /** The byte-aHash banded candidate frame (id_a, id_b, hamming) over the
    * media view of documents — four faces (pairs, histogram, curation
    * verdicts, media-vs-text kappa) previously each re-ran the
    * fingerprint + banding + verify chain per bench pass (optimization
    * r16). Candidate-pair-sized ids + one int — scale-safe to pin.
    */
  private def sharedAhashCands(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "ahashCandidates") {
      Multimodal
        .ahashCandidateHammings(Multimodal.mediaFromDocuments(table(s, dir, "documents")))
        .localCheckpoint(eager = true)
    }

  /** The hand-built BMP24/BMP8 twin corpus (tiny deterministic byte
    * streams) — decoded twice before: by media_phash_pixel_pairs and
    * media_phash_vs_bytehash.
    */
  private def sharedImageCorpus(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "imageCorpus") {
      Multimodal.syntheticImageCorpus(table(s, dir, "documents"))
        .localCheckpoint(eager = true)
    }

  /** ONE ImageIO decode + pixel-pHash pass over [[sharedImageCorpus]] —
    * the expensive leg of both pixel-domain media faces.
    */
  private def sharedPixelPhash(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "pixelPhash") {
      Multimodal.phashPixels(sharedImageCorpus(s, dir)).toDF()
        .localCheckpoint(eager = true)
    }

  /** The perturbation-class × hash catch matrix off the shared perturbed
    * hashes — reported by media_perturbation_matrix and read as the
    * decision scalar by media_dedup_auto.
    */
  private def sharedPerturbMatrix(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "perturbMatrix") {
      Multimodal.perturbationMatrixFromHashes(sharedPerturbedHashes(s, dir))
        .localCheckpoint(eager = true)
    }

  /** The media aHash replay shared by the fingerprint, pairs, and
    * histogram faces: per-byte values from hex pairs (the
    * `media_byte_stats` idiom), 64-cell sums, the exact cross-multiplied
    * mean comparison (bit 63 via the min-long literal — DuckDB's `<<`
    * range-checks where Java wraps), then 8-bit-chunk banding with the
    * 2..500 bucket cap and xor-popcount verification — mirroring
    * [[graft.ops.Multimodal.ahashFingerprints]] /
    * [[graft.ops.Multimodal.ahashNearDupPairs]] stage for stage.
    */
  private val MediaAHashCtesBody: String =
    """ahb AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n
      |  FROM documents
      |), ahbytes AS (
      |  SELECT media_id, n, i, CAST('0x' || substr(hx, CAST(i*2+1 AS INT), 2) AS BIGINT) AS v
      |  FROM (SELECT media_id, hx, n, unnest(range(0, n)) AS i FROM ahb WHERE n > 0)
      |), ahcells AS (
      |  SELECT media_id, n, (i * 64) // n AS cell,
      |    CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS cn
      |  FROM ahbytes GROUP BY 1, 2, 3
      |), ahtot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts FROM ahcells GROUP BY 1),
      |ah AS MATERIALIZED (
      |  SELECT c.media_id, CAST(any_value(c.n) AS BIGINT) AS n_bytes,
      |    CAST(sum(CASE WHEN c.s * c.n <= t.ts * c.cn THEN 0
      |         WHEN c.cell = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |         ELSE CAST((CAST(1 AS BIGINT) << CAST(c.cell AS INT)) AS HUGEINT) END) AS BIGINT) AS ahash
      |  FROM ahcells c JOIN ahtot t USING (media_id) GROUP BY 1
      |), ahck AS (
      |  SELECT media_id AS id, cc.c AS c, (ahash >> (cc.c * 8)) & 255 AS v
      |  FROM ah, range(8) cc(c)
      |), ahbuck AS (
      |  SELECT c, v, count(*) AS bn FROM ahck GROUP BY 1, 2
      |), ahcand AS (
      |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
      |  FROM ahck x
      |  JOIN ahbuck bk ON bk.c = x.c AND bk.v = x.v AND bk.bn BETWEEN 2 AND 500
      |  JOIN ahck y ON y.c = x.c AND y.v = x.v AND x.id < y.id
      |), ahch AS MATERIALIZED (
      |  SELECT c.id_a, c.id_b,
      |    CAST(bit_count(xor(a.ahash, bh.ahash)) AS INT) AS hamming
      |  FROM ahcand c
      |  JOIN ah a ON a.media_id = c.id_a
      |  JOIN ah bh ON bh.media_id = c.id_b
      |)""".stripMargin

  private val MediaAHashCtes: String = s"WITH $MediaAHashCtesBody"

  /** Per-media byte entropy `ent` plus the aHash near-duplicate set
    * `mdup` (Hamming <= 6) — the media curation flags' inputs.
    */
  private val MediaCurationCtes: String =
    s"""eb AS (
      |  SELECT doc_id AS media_id, source, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n
      |  FROM documents
      |), ebytes AS (
      |  SELECT media_id, n,
      |    unnest(list_transform(range(0, n), i -> substr(hx, CAST(i*2+1 AS INT), 2))) AS byte
      |  FROM eb WHERE n > 0
      |), ehist AS (
      |  SELECT media_id, any_value(n) AS n, byte, count(*) AS c
      |  FROM ebytes GROUP BY media_id, byte
      |), ent AS MATERIALIZED (
      |  SELECT media_id, CAST(any_value(n) AS BIGINT) AS n_bytes,
      |    CAST(floor((log2(any_value(n)) - sum(c * log2(c))/any_value(n))*1000000.0 + 0.5) AS BIGINT) AS entropy_micro
      |  FROM ehist GROUP BY media_id
      |), $MediaAHashCtesBody,""".stripMargin

  /** Shared CTEs reproducing [[graft.ops.Multimodal.phashPixels]] over the
    * synthetic twin-image corpus: `pximg` the non-empty docs as hex byte
    * streams, `pxh(doc_id, phash)` the pixel-domain perceptual hash — the
    * 32×32 grid tiles the text bytes (pixel p = byte p mod n), cells are
    * the exact 8×8 box partition (cell = (p DIV 128)·8 + (p mod 32) DIV 4),
    * and bit c is the exact cross-multiplied mean comparison, bit 63 via
    * the min-long literal summed in HUGEINT. Because the BMP codec
    * round-trip is lossless for gray pixels, this pure pixel formula IS
    * what Spark's decode→luma→box-mean path produces for BOTH encodings.
    */
  private val PhashPixelCtesBody: String =
    """pximg AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0
      |), pxv AS (
      |  SELECT doc_id, p, CAST('0x' || substr(hx, CAST((p % n)*2+1 AS INT), 2) AS BIGINT) AS v
      |  FROM (SELECT doc_id, hx, n, unnest(range(0, 1024)) AS p FROM pximg)
      |), pxc AS (
      |  SELECT doc_id, (p // 128) * 8 + (p % 32) // 4 AS cell,
      |    CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS cn
      |  FROM pxv GROUP BY 1, 2
      |), pxt AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS ts FROM pxc GROUP BY 1),
      |pxh AS MATERIALIZED (
      |  SELECT c.doc_id,
      |    CAST(sum(CASE WHEN c.s * 1024 <= t.ts * c.cn THEN 0
      |         WHEN c.cell = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |         ELSE CAST((CAST(1 AS BIGINT) << CAST(c.cell AS INT)) AS HUGEINT) END) AS BIGINT) AS phash
      |  FROM pxc c JOIN pxt t USING (doc_id) GROUP BY 1
      |)""".stripMargin

  /** Shared CTEs reproducing the full pixel perceptual-hash family
    * ([[graft.ops.Multimodal.perceptualHashes]]) over the
    * perturbation-twin corpus ([[graft.ops.Multimodal.perturbedImageCorpus]]):
    * `pcells(doc_id, k, cell, s)` the exact 8×8 box sums per variant
    * k ∈ 0..3 (orig / re-encode / gamma v²÷255 / ±3 Knuth-hash noise —
    * re-encode shares orig's pixels, so k=1 reuses k=0's formula and the
    * hash equality IS the codec-round-trip proof), `phashes(doc_id, k,
    * ahash, dhash, whash)` the three thresholdings: global mean (cells
    * are 16 px each of 1024, so s·64 vs total), wraparound horizontal
    * gradient (equal counts — sums compare directly), and WHT sign
    * matrix `(−1)^(popcount(r&u)+popcount(c&v))` with the exact lower
    * median (rank 32 of 63 non-DC) as threshold, bit 63 via the min-long
    * literal summed in HUGEINT.
    */
  private val PerturbHashCtesBody: String =
    """pximg AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0
      |), pxv0 AS (
      |  SELECT doc_id, p, CAST('0x' || substr(hx, CAST((p % n)*2+1 AS INT), 2) AS BIGINT) AS v
      |  FROM (SELECT doc_id, hx, n, unnest(range(0, 1024)) AS p FROM pximg)
      |), pxk AS (
      |  SELECT doc_id, k.k AS k, p,
      |    CASE WHEN k.k = 2 THEN (v*v) // 255
      |         WHEN k.k = 3 THEN least(255, greatest(0,
      |           v + (((doc_id % 1048576)*1024 + p) * 2654435761) % 4294967296 % 7 - 3))
      |         ELSE v END AS v
      |  FROM pxv0, range(4) k(k)
      |), pcells AS MATERIALIZED (
      |  SELECT doc_id, k, (p // 128) * 8 + (p % 32) // 4 AS cell,
      |    CAST(sum(v) AS BIGINT) AS s
      |  FROM pxk GROUP BY 1, 2, 3
      |), ptot AS (SELECT doc_id, k, CAST(sum(s) AS BIGINT) AS ts FROM pcells GROUP BY 1, 2),
      |pah AS (
      |  SELECT c.doc_id, c.k,
      |    CAST(sum(CASE WHEN c.s * 64 <= t.ts THEN 0
      |         WHEN c.cell = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |         ELSE CAST((CAST(1 AS BIGINT) << CAST(c.cell AS INT)) AS HUGEINT) END) AS BIGINT) AS ahash
      |  FROM pcells c JOIN ptot t USING (doc_id, k) GROUP BY 1, 2
      |), pdh AS (
      |  SELECT a.doc_id, a.k,
      |    CAST(sum(CASE WHEN b.s <= a.s THEN 0
      |         WHEN a.cell = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |         ELSE CAST((CAST(1 AS BIGINT) << CAST(a.cell AS INT)) AS HUGEINT) END) AS BIGINT) AS dhash
      |  FROM pcells a JOIN pcells b ON b.doc_id = a.doc_id AND b.k = a.k
      |    AND b.cell = (a.cell // 8) * 8 + ((a.cell % 8) + 1) % 8
      |  GROUP BY 1, 2
      |), pwco AS MATERIALIZED (
      |  SELECT c.doc_id, c.k, u.u AS u, v.v AS v,
      |    CAST(sum(CASE WHEN (bit_count((c.cell // 8) & u.u) + bit_count((c.cell % 8) & v.v)) % 2 = 0
      |         THEN c.s ELSE -c.s END) AS BIGINT) AS w
      |  FROM pcells c, range(8) u(u), range(8) v(v) GROUP BY 1, 2, 3, 4
      |), pwmed AS (
      |  SELECT doc_id, k, w AS med FROM (
      |    SELECT doc_id, k, w, row_number() OVER (PARTITION BY doc_id, k ORDER BY w) AS rk
      |    FROM pwco WHERE NOT (u = 0 AND v = 0))
      |  WHERE rk = 32
      |), pwh AS (
      |  SELECT c.doc_id, c.k,
      |    CAST(sum(CASE WHEN (c.u = 0 AND c.v = 0) OR c.w <= m.med THEN 0
      |         WHEN c.u * 8 + c.v = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |         ELSE CAST((CAST(1 AS BIGINT) << CAST(c.u * 8 + c.v AS INT)) AS HUGEINT) END) AS BIGINT) AS whash
      |  FROM pwco c JOIN pwmed m USING (doc_id, k) GROUP BY 1, 2
      |), phashes AS MATERIALIZED (
      |  SELECT doc_id, k, ahash, dhash, whash
      |  FROM pah JOIN pdh USING (doc_id, k) JOIN pwh USING (doc_id, k)
      |)""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("media_byte_stats") { (s, dir) =>
      // Codec-free byte-level media features, integer-exact: distinct-byte
      // count, Σc² collision statistic, printable-byte count, and entropy
      // in micro-bits from the integer-histogram identity — the DuckDB
      // oracle rebuilds the byte histogram from hex pairs of the same
      // payload, so the whole feature set hash-compares. (The ratio/MIME
      // form lives on as Multimodal.byteStats, spec'd in MultimodalSpec.)
      Multimodal.byteStatsExact(Multimodal.mediaFromDocuments(table(s, dir, "documents"))).toDF()
    }.oracle(
      """WITH b AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents
        |), bytes AS (
        |  SELECT media_id, n, unnest(list_transform(range(0, n), i -> substr(hx, CAST(i*2+1 AS INT), 2))) AS byte
        |  FROM b WHERE n > 0
        |), hist AS (
        |  SELECT media_id, any_value(n) AS n, byte, count(*) AS c
        |  FROM bytes GROUP BY media_id, byte
        |)
        |SELECT media_id,
        |  CAST(any_value(n) AS BIGINT) AS n_bytes,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c*c) AS BIGINT) AS coincidence,
        |  CAST(sum(CASE WHEN CAST('0x'||byte AS INT) BETWEEN 32 AND 126
        |             OR CAST('0x'||byte AS INT) IN (9,10,13) THEN c ELSE 0 END) AS BIGINT) AS n_printable,
        |  CAST(floor((log2(any_value(n)) - sum(c * log2(c))/any_value(n))*1000000.0 + 0.5) AS BIGINT) AS entropy_micro
        |FROM hist GROUP BY media_id""".stripMargin),
    Query("media_chunks") { (s, dir) =>
      val media = Multimodal.mediaFromDocuments(table(s, dir, "documents"))
      val chunks = Multimodal.sampleChunks(Multimodal.chunked(media, 256), stride = 4)
      chunks.select(
        col("media_id"),
        col("meta.n_bytes").as("n_bytes"),
        size(col("chunks")).as("n_chunks"),
        size(col("sampled_chunks")).as("n_sampled")
      )
    }.oracle(
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  greatest(CAST(ceil(octet_length(encode(text)) / 256.0) AS INT), 1) AS n_chunks,
        |  CAST(ceil(greatest(CAST(ceil(octet_length(encode(text)) / 256.0) AS INT), 1) / 4.0) AS INT) AS n_sampled
        |FROM documents""".stripMargin),
    Query("media_ahash_fingerprints") { (s, dir) =>
      // Perceptual-hash fingerprints of the media payload: 64-cell
      // average hash as ONE codegen'd map-only call per row
      // (functions/AHashExpr.scala), exact integer mean comparisons —
      // 8 bytes per payload, no codec needed, DuckDB-mirrored from hex
      // pairs (ops/Multimodal.scala).
      Multimodal.ahashFingerprints(
        Multimodal.mediaFromDocuments(table(s, dir, "documents")))
    }.oracle(
      s"""$MediaAHashCtes
        |SELECT media_id, n_bytes, ahash FROM ah""".stripMargin),
    Query("media_ahash_neardup_pairs") { (s, dir) =>
      // Media near-dup pairs: 8-bit-chunk pigeonhole banding over the
      // aHash (exact for Hamming ≤ 7; never a media×media product),
      // xor-popcount verify at ≤ 6. Fully engine-portable — unlike the
      // md5-native SimHash face this whole chain is oracle-checked,
      // including the bucket cap (ops/Multimodal.scala).
      // Optimization r16: the hamming filter over the shared banded
      // candidate frame (also read by the histogram, curation, and kappa
      // faces).
      Multimodal.ahashNearDupPairsFrom(sharedAhashCands(s, dir))
    }.oracle(
      s"""$MediaAHashCtes
        |SELECT id_a, id_b, hamming FROM ahch WHERE hamming <= 6""".stripMargin),
    Query("media_ahash_hamming_hist") { (s, dir) =>
      // The separation evidence behind the pairs face: Hamming histogram
      // over every banded candidate — dup mass at 0..7, unrelated-pair
      // background from ~10 up; a zero-pair corpus reads as "no media
      // dups", not "operator broke" (ops/Multimodal.scala).
      // Optimization r16: an aggregation over the shared candidate frame.
      Multimodal.ahashHammingHistFrom(sharedAhashCands(s, dir))
    }.oracle(
      s"""$MediaAHashCtes
        |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM ahch GROUP BY 1""".stripMargin),
    Query("media_curation_flags") { (s, dir) =>
      // The media family closed into one verdict per payload — the
      // curation_pipeline discipline on the binary column: tiny /
      // low-entropy / high-entropy / perceptual-dup / keep, in
      // deterministic precedence, off the oracle-green byte-stats and
      // aHash chains (ops/Multimodal.scala).
      Multimodal.curationFlags(
        Multimodal.mediaFromDocuments(table(s, dir, "documents")),
        nearDupPairs = Some(Multimodal.ahashNearDupPairsFrom(sharedAhashCands(s, dir))))
    }.oracle(
      s"""WITH $MediaCurationCtes
        |mdup AS (SELECT DISTINCT id_b AS media_id FROM ahch WHERE hamming <= 6)
        |SELECT d.media_id, d.source,
        |  coalesce(e.n_bytes, 0) AS n_bytes,
        |  coalesce(e.entropy_micro, 0) AS entropy_micro,
        |  CASE WHEN coalesce(e.n_bytes, 0) < 64 THEN 'tiny'
        |       WHEN e.entropy_micro < 1500000 THEN 'low_entropy'
        |       WHEN e.entropy_micro > 7800000 THEN 'high_entropy'
        |       WHEN m.media_id IS NOT NULL THEN 'dup'
        |       ELSE 'keep' END AS action
        |FROM (SELECT doc_id AS media_id, source FROM documents) d
        |LEFT JOIN ent e ON e.media_id = d.media_id
        |LEFT JOIN mdup m ON m.media_id = d.media_id""".stripMargin),
    Query("media_curation_report") { (s, dir) =>
      // The per-source census of the media verdicts: totals, drops by
      // gate, keeps, kept share in bps (ops/Multimodal.scala).
      Multimodal.curationReport(
        Multimodal.mediaFromDocuments(table(s, dir, "documents")),
        nearDupPairs = Some(Multimodal.ahashNearDupPairsFrom(sharedAhashCands(s, dir))))
    }.oracle(
      s"""WITH $MediaCurationCtes
        |mdup AS (SELECT DISTINCT id_b AS media_id FROM ahch WHERE hamming <= 6),
        |fl AS (
        |  SELECT d.media_id, d.source,
        |    CASE WHEN coalesce(e.n_bytes, 0) < 64 THEN 'tiny'
        |         WHEN e.entropy_micro < 1500000 THEN 'low_entropy'
        |         WHEN e.entropy_micro > 7800000 THEN 'high_entropy'
        |         WHEN m.media_id IS NOT NULL THEN 'dup'
        |         ELSE 'keep' END AS action
        |  FROM (SELECT doc_id AS media_id, source FROM documents) d
        |  LEFT JOIN ent e ON e.media_id = d.media_id
        |  LEFT JOIN mdup m ON m.media_id = d.media_id
        |)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(CASE WHEN action = 'tiny' THEN 1 ELSE 0 END) AS BIGINT) AS n_tiny,
        |  CAST(sum(CASE WHEN action = 'low_entropy' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_entropy,
        |  CAST(sum(CASE WHEN action = 'high_entropy' THEN 1 ELSE 0 END) AS BIGINT) AS n_high_entropy,
        |  CAST(sum(CASE WHEN action = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN action = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST((20000 * sum(CASE WHEN action = 'keep' THEN 1 ELSE 0 END) + count(*))
        |    // (2 * count(*)) AS BIGINT) AS kept_bps
        |FROM fl GROUP BY 1""".stripMargin),
    Query("media_shot_boundaries") { (s, dir) =>
      // Shot-boundary detection over the chunked payload: per-chunk
      // perceptual hashes, consecutive Hamming distances, boundaries at
      // the corpus's exact nearest-rank p95 of transitions (adaptive,
      // not a magic number). Honest reading here: word-salad payloads
      // have no shots — transitions sit at the ~30-bit background and
      // only the extreme tail flags; the planted-segments spec shows the
      // detector firing exactly at real seams (ops/Multimodal.scala).
      Multimodal.shotBoundaries(
        Multimodal.mediaFromDocuments(table(s, dir, "documents")))
    }.oracle(
      """WITH b AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents
        |), cb AS (
        |  SELECT media_id, i // 256 AS chunk_idx, i % 256 AS pos,
        |    CAST('0x' || substr(hx, CAST(i*2+1 AS INT), 2) AS BIGINT) AS v
        |  FROM (SELECT media_id, hx, n, unnest(range(0, n)) AS i FROM b WHERE n > 0)
        |), cl AS (
        |  SELECT media_id, chunk_idx, CAST(count(*) AS BIGINT) AS nc
        |  FROM cb GROUP BY 1, 2
        |), cc AS (
        |  SELECT cb.media_id, cb.chunk_idx, (cb.pos * 64) // cl.nc AS cell,
        |    CAST(sum(cb.v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS cn,
        |    any_value(cl.nc) AS nc
        |  FROM cb JOIN cl USING (media_id, chunk_idx) GROUP BY 1, 2, 3
        |), ct AS (
        |  SELECT media_id, chunk_idx, CAST(sum(s) AS BIGINT) AS ts
        |  FROM cc GROUP BY 1, 2
        |), cah AS MATERIALIZED (
        |  SELECT c.media_id, c.chunk_idx,
        |    CAST(sum(CASE WHEN c.s * c.nc <= t.ts * c.cn THEN 0
        |         WHEN c.cell = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |         ELSE CAST((CAST(1 AS BIGINT) << CAST(c.cell AS INT)) AS HUGEINT) END) AS BIGINT) AS ahash
        |  FROM cc c JOIN ct t USING (media_id, chunk_idx) GROUP BY 1, 2
        |), sq AS MATERIALIZED (
        |  SELECT media_id, chunk_idx,
        |    CASE WHEN lag(ahash) OVER (PARTITION BY media_id ORDER BY chunk_idx) IS NULL THEN -1
        |         ELSE CAST(bit_count(xor(ahash,
        |           lag(ahash) OVER (PARTITION BY media_id ORDER BY chunk_idx))) AS INT)
        |    END AS hamming_prev
        |  FROM cah
        |), tr AS (
        |  SELECT hamming_prev, media_id, chunk_idx FROM sq WHERE hamming_prev >= 0
        |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
        |thr AS (
        |  SELECT coalesce(
        |    (SELECT CAST(hamming_prev AS BIGINT) FROM (
        |       SELECT hamming_prev,
        |         row_number() OVER (ORDER BY hamming_prev, media_id, chunk_idx) AS rk
        |       FROM tr)
        |     WHERE rk = (SELECT (95 * n + 99) // 100 FROM nn)),
        |    9223372036854775807) AS t
        |)
        |SELECT s.media_id, s.chunk_idx, s.hamming_prev,
        |  (SELECT t FROM thr) AS p_threshold,
        |  CASE WHEN s.hamming_prev >= 0 AND s.hamming_prev > (SELECT t FROM thr)
        |       THEN 1 ELSE 0 END AS is_boundary
        |FROM sq s""".stripMargin),
    Query("media_vs_text_dedup_kappa") { (s, dir) =>
      // Does payload-level dedup agree with text-level dedup? Media aHash
      // near-dup flags (Hamming ≤ 6, has-a-lower-id-partner convention)
      // vs banded md5-MinHash flags (exact Jaccard ≥ 0.8) on the same
      // ids — the cross-modality calibration row, same discipline as
      // text_vs_semantic_dedup_kappa: the byte hash should catch the
      // exact dups MinHash catches, while shingle-level rewrites split
      // the modalities.
      // Optimization r16: both flag legs ride shared builds — the text
      // side is the memoized 0.8 md5 pair frame, the media side the
      // shared banded candidate frame.
      val docs = table(s, dir, "documents")
      val textFlags = docs.select(col("doc_id").as("id"))
        .join(
          sharedMd5Pairs08(s, dir)
            .select(col("id_b").as("id")).distinct().withColumn("d", lit(1)),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("d"), lit(0)).as("dup_text"))
      val mediaFlags = docs.select(col("doc_id").as("id"))
        .join(
          Multimodal.ahashNearDupPairsFrom(sharedAhashCands(s, dir))
            .select(col("id_b").as("id")).distinct().withColumn("m", lit(1)),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("m"), lit(0)).as("dup_media"))
      graft.ops.Contingency
        .agreementKappa(textFlags.join(mediaFlags, Seq("id")), "dup_text", "dup_media")
    }.oracle(
      s"""$Md5NearDupCtes, $MediaAHashCtesBody, lshd AS (
        |  SELECT DISTINCT id_b AS id FROM pj WHERE jaccard >= 0.8
        |), tflag AS (
        |  SELECT d.doc_id AS id, CASE WHEN lshd.id IS NULL THEN 0 ELSE 1 END AS ka
        |  FROM documents d LEFT JOIN lshd ON lshd.id = d.doc_id
        |), mdup AS (
        |  SELECT DISTINCT id_b AS id FROM ahch WHERE hamming <= 6
        |), mflag AS (
        |  SELECT d.doc_id AS id, CASE WHEN mdup.id IS NULL THEN 0 ELSE 1 END AS kb
        |  FROM documents d LEFT JOIN mdup ON mdup.id = d.doc_id
        |), j AS (
        |  SELECT ka, kb FROM tflag JOIN mflag USING (id)
        |), ${agreementKappaTail("kcells", "ka", "kb")}""".stripMargin),
    Query("media_phash_pixel_pairs") { (s, dir) =>
      // Pixel-DOMAIN near-dup pairs — what the byte aHash cannot do
      // (media_vs_text_dedup_kappa priced that at κ = 0.058): every doc
      // rides twice as hand-built BMP24/BMP8 twins (identical pixels
      // tiled from the text bytes, disjoint byte streams), the REAL
      // ImageIO decode feeds an 8×8 exact integer box-mean pHash, and
      // the same pigeonhole banding as the byte face verifies by
      // xor-popcount. Twin pairs land at Hamming 0. Both encodings are
      // deterministic byte streams, so DuckDB replays the whole chain —
      // pixels, hash, banding, cap — through the codec round-trip
      // (ops/Multimodal.scala).
      // Optimization r15: rides the shared decode pass (sharedPixelPhash,
      // also read by media_phash_vs_bytehash).
      Multimodal.phashPixelPairsFrom(
        sharedPixelPhash(s, dir)
          .filter(col("ok") && col("phash").isNotNull)
          .select(col("media_id").as("id"), col("phash").as("h64")))
    }.oracle(
      s"""WITH $PhashPixelCtesBody, pxm AS (
        |  SELECT doc_id * 2 + tt.t AS id, phash FROM pxh, range(2) tt(t)
        |), pxck AS (
        |  SELECT id, cc.c AS c, (phash >> (cc.c * 16)) & 65535 AS v FROM pxm, range(4) cc(c)
        |), pxok AS (
        |  SELECT c, v FROM pxck GROUP BY 1, 2 HAVING count(*) <= 500
        |), pxpr AS (
        |  SELECT id, cc.c AS c,
        |    CASE WHEN m.m = 0 THEN (phash >> (cc.c * 16)) & 65535
        |         ELSE xor((phash >> (cc.c * 16)) & 65535, CAST(1 AS BIGINT) << (m.m - 1)) END AS v
        |  FROM pxm, range(4) cc(c), range(17) m(m)
        |), pxcand AS (
        |  SELECT DISTINCT p.id AS id_a, s.id AS id_b
        |  FROM pxpr p
        |  JOIN pxok k ON k.c = p.c AND k.v = p.v
        |  JOIN pxck s ON s.c = p.c AND s.v = p.v AND p.id < s.id
        |), pxch AS MATERIALIZED (
        |  SELECT c.id_a, c.id_b, CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        |  FROM pxcand c JOIN pxm a ON a.id = c.id_a JOIN pxm b ON b.id = c.id_b
        |)
        |SELECT id_a, id_b, hamming FROM pxch WHERE hamming <= 6""".stripMargin),
    Query("media_phash_vs_bytehash") { (s, dir) =>
      // The WHY row for the pixel face: per re-encoded twin pair, pixel
      // pHash vs byte aHash. Pixels catch every pair at Hamming 0; the
      // byte hash sees two unrelated streams (headers, palette, layout)
      // and misses them all, with the measured bit gap as evidence. The
      // oracle rebuilds BOTH hand-built BMP byte streams in SQL and
      // replays both hashes end-to-end (ops/Multimodal.scala).
      // Optimization r15: rides the shared twin corpus + decode pass.
      Multimodal.phashVsByteHashFrom(
        sharedImageCorpus(s, dir),
        sharedPixelPhash(s, dir).filter(col("ok")).select(col("media_id"), col("phash")))
    }.oracle(
      s"""WITH $PhashPixelCtesBody, pxl AS (
        |  SELECT doc_id, list_transform(range(0, 1024),
        |    p -> CAST('0x' || substr(hx, CAST((p % n)*2+1 AS INT), 2) AS BIGINT)) AS pv
        |  FROM pximg
        |), hdr AS (
        |  SELECT
        |    [66,77,54,12,0,0, 0,0,0,0, 54,0,0,0, 40,0,0,0, 32,0,0,0, 32,0,0,0, 1,0, 24,0,
        |     0,0,0,0, 0,12,0,0, 19,11,0,0, 19,11,0,0, 0,0,0,0, 0,0,0,0] AS h24,
        |    [66,77,54,8,0,0, 0,0,0,0, 54,4,0,0, 40,0,0,0, 32,0,0,0, 32,0,0,0, 1,0, 8,0,
        |     0,0,0,0, 0,4,0,0, 19,11,0,0, 19,11,0,0, 0,1,0,0, 0,0,0,0] AS h8
        |), bb AS (
        |  SELECT doc_id, 0 AS enc, 3126 AS n, i,
        |    CASE WHEN i < 54 THEN h24[CAST(i+1 AS INT)]
        |         ELSE pv[CAST((31 - (i-54)//96)*32 + ((i-54)%96)//3 + 1 AS INT)] END AS v
        |  FROM (SELECT doc_id, pv, unnest(range(0, 3126)) AS i FROM pxl), hdr
        |  UNION ALL
        |  SELECT doc_id, 1 AS enc, 2102 AS n, i,
        |    CASE WHEN i < 54 THEN h8[CAST(i+1 AS INT)]
        |         WHEN i < 1078 THEN CASE WHEN (i-54)%4 = 3 THEN 0 ELSE (i-54)//4 END
        |         ELSE pv[CAST((31 - (i-1078)//32)*32 + (i-1078)%32 + 1 AS INT)] END AS v
        |  FROM (SELECT doc_id, pv, unnest(range(0, 2102)) AS i FROM pxl), hdr
        |), bc AS (
        |  SELECT doc_id, enc, (i * 64) // n AS cell,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS cn, any_value(n) AS nn
        |  FROM bb GROUP BY 1, 2, 3
        |), bt AS (SELECT doc_id, enc, CAST(sum(s) AS BIGINT) AS ts FROM bc GROUP BY 1, 2),
        |bh AS MATERIALIZED (
        |  SELECT c.doc_id, c.enc,
        |    CAST(sum(CASE WHEN c.s * c.nn <= t.ts * c.cn THEN 0
        |         WHEN c.cell = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |         ELSE CAST((CAST(1 AS BIGINT) << CAST(c.cell AS INT)) AS HUGEINT) END) AS BIGINT) AS bhash
        |  FROM bc c JOIN bt t USING (doc_id, enc) GROUP BY 1, 2
        |), perdoc AS (
        |  SELECT p.doc_id,
        |    CAST(bit_count(xor(p.phash, p.phash)) AS INT) AS pixel_hamming,
        |    CAST(bit_count(xor(a.bhash, b.bhash)) AS INT) AS byte_hamming
        |  FROM pxh p
        |  JOIN bh a ON a.doc_id = p.doc_id AND a.enc = 0
        |  JOIN bh b ON b.doc_id = p.doc_id AND b.enc = 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN pixel_hamming <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_pixel_caught,
        |  CAST(sum(CASE WHEN byte_hamming <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_byte_caught,
        |  CAST(max(pixel_hamming) AS INT) AS max_pixel_hamming,
        |  CAST(min(byte_hamming) AS INT) AS min_byte_hamming
        |FROM perdoc""".stripMargin),
    Query("media_perceptual_hashes") { (s, dir) =>
      // The pixel perceptual-hash family completed: mean (aHash),
      // gradient (dHash), spectral (wHash — integer Walsh–Hadamard, the
      // exact stand-in for pHash's DCT) off ONE decode pass over the
      // perturbation-twin corpus (orig / re-encode / gamma-remap /
      // ±3-noise per doc, every pixel formula deterministic). The oracle
      // replays all three thresholdings — global mean, wraparound
      // horizontal gradient, median-of-63-WHT-coefficients — per variant
      // (ops/Multimodal.scala).
      sharedPerturbedHashes(s, dir)
        .select(
          col("media_id"),
          when(col("media_id") % 4 === 0, "orig")
            .when(col("media_id") % 4 === 1, "reencode")
            .when(col("media_id") % 4 === 2, "gamma")
            .otherwise("noise").as("klass"),
          col("ahash"), col("dhash"), col("whash"))
    }.oracle(
      s"""WITH $PerturbHashCtesBody
        |SELECT doc_id * 4 + k AS media_id,
        |  CASE WHEN k = 0 THEN 'orig' WHEN k = 1 THEN 'reencode'
        |       WHEN k = 2 THEN 'gamma' ELSE 'noise' END AS klass,
        |  ahash, dhash, whash
        |FROM phashes""".stripMargin),
    Query("media_perturbation_matrix") { (s, dir) =>
      // Which hash catches which perturbation class, MEASURED — the row a
      // curation pipeline picks its media dedup gate from: 3 classes
      // (re-encode / monotone gamma remap / per-pixel noise) × 3 hashes
      // (mean / gradient / spectral), each variant paired with its own
      // original by id join (never media×media), catches at Hamming ≤ 6
      // plus the exact Hamming mass and extremes (ops/Multimodal.scala).
      // Optimization r15: the memoized shared matrix (also the decision
      // input of media_dedup_auto).
      sharedPerturbMatrix(s, dir)
    }.oracle(
      s"""WITH $PerturbHashCtesBody, pm AS (
        |  SELECT v.k,
        |    CAST(bit_count(xor(v.ahash, o.ahash)) AS INT) AS ham_a,
        |    CAST(bit_count(xor(v.dhash, o.dhash)) AS INT) AS ham_d,
        |    CAST(bit_count(xor(v.whash, o.whash)) AS INT) AS ham_w
        |  FROM phashes v JOIN phashes o ON o.doc_id = v.doc_id AND o.k = 0
        |  WHERE v.k <> 0
        |), pu AS (
        |  SELECT k, 'ahash' AS hash, ham_a AS hamming FROM pm
        |  UNION ALL SELECT k, 'dhash', ham_d FROM pm
        |  UNION ALL SELECT k, 'whash', ham_w FROM pm
        |)
        |SELECT CASE WHEN k = 1 THEN 'reencode' WHEN k = 2 THEN 'gamma' ELSE 'noise' END AS klass,
        |  hash, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN hamming <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
        |  CAST(sum(hamming) AS BIGINT) AS sum_hamming,
        |  CAST(max(hamming) AS INT) AS max_hamming
        |FROM pu GROUP BY 1, 2""".stripMargin),
    Query("media_dedup_auto") { (s, dir) =>
      // The matrix ENCODED as the gate: stage 1 totals each hash's
      // catches across the perturbation classes, stage 2 runs the
      // pigeonhole-banded near-dup chain with the measured winner (the
      // gradient hash on this corpus) — decision as a column on every
      // pair, one bounded driver scalar for the column choice, hash
      // frame shared with the other two faces (ops/Multimodal.scala).
      // Optimization r15: decision scalar read off the shared matrix.
      Multimodal.mediaDedupAutoFrom(
        sharedPerturbedHashes(s, dir), sharedPerturbMatrix(s, dir))
    }.oracle(
      s"""WITH $PerturbHashCtesBody, pm2 AS (
        |  SELECT v.k,
        |    CAST(bit_count(xor(v.ahash, o.ahash)) AS INT) AS ham_a,
        |    CAST(bit_count(xor(v.dhash, o.dhash)) AS INT) AS ham_d,
        |    CAST(bit_count(xor(v.whash, o.whash)) AS INT) AS ham_w
        |  FROM phashes v JOIN phashes o ON o.doc_id = v.doc_id AND o.k = 0
        |  WHERE v.k <> 0
        |), tot AS (
        |  SELECT 'ahash' AS hash, sum(CASE WHEN ham_a <= 6 THEN 1 ELSE 0 END) AS t FROM pm2
        |  UNION ALL SELECT 'dhash', sum(CASE WHEN ham_d <= 6 THEN 1 ELSE 0 END) FROM pm2
        |  UNION ALL SELECT 'whash', sum(CASE WHEN ham_w <= 6 THEN 1 ELSE 0 END) FROM pm2
        |), pick AS (SELECT hash FROM tot ORDER BY t DESC, hash ASC LIMIT 1),
        |fpz AS MATERIALIZED (
        |  SELECT doc_id * 4 + k AS id,
        |    CASE WHEN (SELECT hash FROM pick) = 'ahash' THEN ahash
        |         WHEN (SELECT hash FROM pick) = 'dhash' THEN dhash
        |         ELSE whash END AS h
        |  FROM phashes
        |), fck AS (
        |  SELECT id, cc.c AS c, (h >> (cc.c * 16)) & 65535 AS v FROM fpz, range(4) cc(c)
        |), fok AS (
        |  SELECT c, v FROM fck GROUP BY 1, 2 HAVING count(*) <= 500
        |), fpr AS (
        |  SELECT id, cc.c AS c,
        |    CASE WHEN m.m = 0 THEN (h >> (cc.c * 16)) & 65535
        |         ELSE xor((h >> (cc.c * 16)) & 65535, CAST(1 AS BIGINT) << (m.m - 1)) END AS v
        |  FROM fpz, range(4) cc(c), range(17) m(m)
        |), fcand AS (
        |  SELECT DISTINCT p.id AS id_a, s.id AS id_b
        |  FROM fpr p
        |  JOIN fok k ON k.c = p.c AND k.v = p.v
        |  JOIN fck s ON s.c = p.c AND s.v = p.v AND p.id < s.id
        |), fh AS (
        |  SELECT c.id_a, c.id_b, CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        |  FROM fcand c JOIN fpz a ON a.id = c.id_a JOIN fpz b ON b.id = c.id_b
        |)
        |SELECT id_a, id_b, hamming, (SELECT hash FROM pick) AS chosen_hash
        |FROM fh WHERE hamming <= 6""".stripMargin)
  )
}
