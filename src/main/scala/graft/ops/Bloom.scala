package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Portable Bloom filter for set-membership tagging at corpus scale —
  * the explicit, user-facing counterpart of the runtime bloom-filter
  * join Spark injects on its own: build a constant-size bit array over a
  * reference key set (benchmark n-grams, a blocklist, yesterday's doc
  * hashes), then tag or pre-filter a 100 TB corpus with a MAP-ONLY
  * probe. No false negatives ever; false positives at the standard
  * (1-e^{-kn/m})^k rate.
  *
  * Scale shape: the filter is `mBits/64` longs REGARDLESS of key count —
  * the build aggregates k·|keys| bit positions into ≤ mBits/64 rows
  * (map-side partial `bit_or`, constant shuffle volume), and the
  * collected array is a bounded driver collect (same discipline as the
  * IVF anchor set, [[graft.ops.Similarity]]). Probing embeds the array
  * as a literal column: membership is pure per-row expression work —
  * zero joins, zero shuffles, codegen-friendly — so a bloom pre-filter
  * in front of an expensive join or dedup costs one corpus scan.
  *
  * Portability contract: bit positions come from the engine-neutral md5
  * hash family ([[graft.ops.Dedup.md5Hash32]]) — position i of key s is
  * `md5_32("bf<i>-" || s) mod mBits` — and all bit math is long
  * AND/OR against power-of-two mask literals (no float anywhere), so a
  * SQL oracle reproduces build and probe bit-for-bit.
  */
object Bloom {

  /** The k bit positions of a key: md5_32 of the salted key, mod mBits.
    * Deterministic, engine-portable, uniform enough for the standard FPR
    * bound (md5 avalanche).
    */
  def positions(key: Column, mBits: Int, kHash: Int): Seq[Column] =
    (0 until kHash).map { i =>
      pmod(Dedup.md5Hash32(concat(lit(s"bf$i-"), key)), lit(mBits.toLong))
    }

  /** Build the filter over a key frame and collect it as a dense
    * `mBits/64`-long word array (missing words zero-filled). The collect
    * is bounded by the filter geometry, not the data: 4096 bits = 64
    * longs whether `keys` has 10 rows or 10 billion.
    */
  def buildBits(
      keys: DataFrame,
      keyCol: String,
      mBits: Int = 4096,
      kHash: Int = 3
  ): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
    require(kHash > 0, "kHash must be positive")
    val masks = array((0 until 64).map(j => lit(1L << j)): _*)
    val words = keys
      .select(explode(array(positions(col(keyCol), mBits, kHash): _*)).as("pos"))
      .select(
        wordIdx(col("pos")).as("word"),
        element_at(masks, pmod(col("pos"), lit(64)).cast("int") + 1).as("mask"))
      .groupBy(col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    Array.tabulate(mBits / 64)(w => words.getOrElse(w, 0L))
  }

  /** Measured false-positive sweep — the Bloom sizing curve: for each
    * candidate filter size m, build the filter over the snapshot key set
    * and probe it with TRUE NON-MEMBERS (batch keys minus snapshot keys),
    * reporting the exact fill factor (set-bit share) and the measured
    * false-positive rate. The `hll_error_report` discipline applied to
    * the third sketch family: the m you deploy at 100 TB is read off this
    * curve, not off the asymptotic formula (fpp ≈ fill^k, noted here and
    * measured, not assumed — no cross-engine exp/pow ever evaluated).
    *
    * Shape: per m, one distinct-positions aggregation over the snapshot
    * keys (≤ m rows survive) and one positions-join over the probe keys
    * (k rows per probe against an ≤ m-row broadcast side). Everything is
    * md5-position integer work — the SQL oracle replays build and probe
    * bit-for-bit, unlike the driver-collected word-array face
    * ([[buildBits]]/[[member]]), which remains the production probe path.
    */
  def fppSweep(
      snapshot: DataFrame,
      probes: DataFrame,
      ms: Seq[Int] = Seq(1024, 4096, 16384),
      kHash: Int = 3,
      keyCol: String = "h"
  ): DataFrame = {
    val snapKeys = snapshot.select(col(keyCol).as("k")).distinct()
      .localCheckpoint(eager = true)
    val nonMembers = probes.select(col(keyCol).as("k")).distinct()
      .join(snapKeys, Seq("k"), "left_anti")
      .localCheckpoint(eager = true)
    ms.map { m =>
      val spos = snapKeys
        .select(explode(array(positions(col("k"), m, kHash): _*)).as("pos"))
        .distinct()
        .localCheckpoint(eager = true) // ≤ m rows; bits_set + probe join
      val bitsSet = spos.agg(count(lit(1)).as("bits_set"))
      val hits = nonMembers
        .select(col("k"), explode(array(positions(col("k"), m, kHash): _*)).as("pos"))
        .join(broadcast(spos), Seq("pos"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_set"))
        .filter(col("n_set") === kHash)
        .agg(count(lit(1)).as("n_fp"))
      val nProbe = nonMembers.agg(count(lit(1)).as("n_probes"))
      val nKeys = snapKeys.agg(count(lit(1)).as("n_keys"))
      nKeys.crossJoin(bitsSet).crossJoin(nProbe).crossJoin(hits).select(
        lit(m).as("m_bits"), lit(kHash).as("k_hash"), col("n_keys"),
        col("bits_set"),
        expr(s"CAST((2 * 10000 * bits_set + $m) div (2 * $m) AS INT)").as("fill_bps"),
        col("n_probes"), col("n_fp"),
        // n_probes = 0 (every probe key was already a member) must yield
        // NULL, not a divide-by-zero under ANSI mode
        expr("CAST(CASE WHEN n_probes > 0 THEN" +
          " (2 * 10000 * n_fp + n_probes) div (2 * n_probes) END AS INT)")
          .as("fpp_measured_bps"))
    }.reduce(_.unionByName(_))
  }

  /** Map-only membership test: true iff every one of the key's k bits is
    * set in the filter. The filter crosses the plan as two literal
    * arrays (words + the 64 power-of-two masks); the test is k
    * element_at/AND ops per row — no join, no shuffle.
    */
  def member(key: Column, bloom: Array[Long], mBits: Int, kHash: Int): Column = {
    require(bloom.length == mBits / 64, s"bloom array must have ${mBits / 64} words")
    val words = array(bloom.map(lit): _*)
    val masks = array((0 until 64).map(j => lit(1L << j)): _*)
    positions(key, mBits, kHash)
      .map { pos =>
        val mask = element_at(masks, pmod(pos, lit(64)).cast("int") + 1)
        element_at(words, wordIdx(pos) + 1).bitwiseAND(mask) =!= 0
      }
      .reduce(_ && _)
  }

  // pos div 64 — the double division is exact (pos < mBits ≪ 2^53) and
  // the cast truncates toward zero on non-negative input.
  private def wordIdx(pos: Column): Column = (pos / 64).cast("int")
}
