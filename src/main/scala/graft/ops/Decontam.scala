package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: drop training documents that share word
  * n-grams with an evaluation/benchmark set — the overlap-removal step
  * every serious pretraining pipeline runs (GPT-3 appendix C, The Pile's
  * 13-gram filter; this uses 8-grams).
  *
  * 100 TB shape: the benchmark side is tiny (eval suites are MBs, the
  * corpus is TBs), so its distinct gram-hash set BROADCASTS — the corpus
  * never shuffles at all. Per doc the plan is scan → shingle → broadcast
  * semi/anti join → aggregate; gram hashes are md5-derived
  * ([[Dedup.md5Hash32]]) so the whole operator sits under a SQL oracle.
  */
object Decontam {

  private def gramHashes(text: org.apache.spark.sql.Column, n: Int) =
    array_distinct(transform(Dedup.wordShingles(text, n), g => Dedup.md5Hash32(g)))

  /** Per-doc count of distinct benchmark-colliding n-gram hashes (docs with
    * zero hits are absent). Benchmark gram set is broadcast.
    */
  def overlapCounts(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8
  ): DataFrame = {
    val dg = docs.select(col(idCol), explode(gramHashes(col(textCol), n)).as("g"))
    val bg = bench.select(explode(gramHashes(col(textCol), n)).as("g")).distinct()
    dg.join(broadcast(bg), Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Asymmetric containment per doc: the share of the doc's DISTINCT
    * n-grams that appear in the benchmark set — |grams(d) ∩ B| /
    * |grams(d)| — the right contamination measure when sizes differ
    * wildly (a 200-word eval question fully embedded in a 10k-word doc
    * has low Jaccard but containment ≈ 1 from the question's side; from
    * the doc's side, any appreciable share means benchmark text leaked
    * in). Emits every doc with ≥ n tokens: n_grams, n_hits, containment
    * in basis points (round-half-up integer division — exact longs, no
    * float ratio), and the drop decision at `dropBp`.
    *
    * Same 100 TB shape as [[overlapCounts]]: benchmark gram set
    * broadcasts, corpus scans once and never shuffles (the aggregation
    * keys on the doc id the scan already carries).
    */
  def containmentStats(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      dropBp: Int = 100
  ): DataFrame = {
    val dg = docs.select(col(idCol), explode(gramHashes(col(textCol), n)).as("g"))
    val bg = bench.select(explode(gramHashes(col(textCol), n)).as("g")).distinct()
    dg.join(broadcast(bg.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("containment_bp", expr("(2 * 10000 * n_hits + n_grams) div (2 * n_grams)"))
      .withColumn("dropped", (col("containment_bp") >= dropBp).cast("int"))
  }

  /** Per-doc EVAL-side containment gate — the broadcast twin of
    * [[Dedup.quotedEvalContainment]] for the common case where the whole
    * benchmark suite fits in memory (eval suites are MBs by construction):
    * every training doc gets the max over eval questions of
    * |eval ∩ doc| / |eval| in exact round-half-up bps, the arg-max eval id
    * (ties → highest id), and the gate decision. No posting lists, no
    * candidate generation: ONE corpus scan crossed with the broadcast
    * eval-set frame (|evals|-row), per-pair set intersects map-side, one
    * partial-aggregated max per doc — the right plan when |evals| is
    * small; [[Dedup.quotedEvalContainment]]'s prefix-filter form is for
    * suites too large to broadcast. Unlike the pair screen this emits one
    * row per DISTINCT doc id (zero-overlap docs at 0 bps — including when the eval
    * frame itself is empty: the per-doc best LEFT-joins back onto an
    * ids-only corpus projection, so the gate degrades to all-clean, never
    * to zero rows), so downstream gates join it like `gopher_rules`. The
    * ids-only projection is a pruned one-column scan next to the single
    * full-text pass; `worst_eval_id` is −1 when no eval scored the doc.
    */
  def evalContainmentGate(
      docs: DataFrame,
      evals: DataFrame,
      thresholdBps: Long = 8000L,
      shingleN: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    val ev = evals
      .select(col(idCol).cast("long").as("eval_id"),
        graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("es"))
      .filter(size(col("es")) > 0)
    val scored = docs
      .select(col(idCol),
        graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("ds"))
      .crossJoin(broadcast(ev)) // |evals|-row benchmark suite
      .select(col(idCol), col("eval_id"),
        scaledRatio(
          size(array_intersect(col("ds"), col("es"))).cast("long"),
          size(col("es")).cast("long"),
          10000L).cast("long").as("bps"))
      .groupBy(col(idCol))
      .agg(max(struct(col("bps"), col("eval_id"))).as("best"))
    // LEFT-join the per-doc best back onto the corpus: the crossJoin
    // annihilates when the eval frame is empty (or every eval text is too
    // short to shingle), and an all-clean gate must emit every doc at
    // 0 bps — not zero rows that an inner-joining downstream stage would
    // read as "drop the whole corpus" (ADVICE r10; DecontamSpec pins it).
    // The spine is the DISTINCT id projection: the gate's contract is one
    // row per doc ID (the groupBy side already dedupes), so a source that
    // repeats an id must not fan the gate out (ADVICE r11).
    docs
      .select(col(idCol))
      .distinct()
      .join(scored, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("best").getField("bps"), lit(0L)).as("max_eval_contained_bps"),
        coalesce(col("best").getField("eval_id"), lit(-1L)).as("worst_eval_id"),
        (coalesce(col("best").getField("bps"), lit(0L)) >= thresholdBps)
          .cast("int").as("contaminated"))
  }

  /** TWO-STAGE decontamination gate — the shape that survives a 100 TB
    * corpus × full eval-suite product. [[evalContainmentGate]] intersects
    * every doc's FULL shingle set with every eval's (|docs|·|evals| exact
    * set intersections — the expensive stage at scale);
    * `containment_minhash_est` proved a 64-member MinHash signature plus
    * set sizes estimates containment within ~73 bps on containment-grade
    * pairs. So: STAGE 1 scores every (doc, eval) pair from signatures
    * alone (64 integer compares per pair — no set ever touched: the
    * per-doc index row is `(n_d, sig)`, built in one scan and
    * checkpointed); STAGE 2 exact-verifies EVERY pair the sketch scores
    * at or above `thresholdBps − marginBps`, fetching just those docs'
    * sets. The trust is deliberately ONE-SIDED: positives are never taken
    * from the sketch (on tiny eval sets — 8-gram items here — the
    * J-based estimate can exceed 10000 bps against an exact 1250, so a
    * trusted-hot region would over-drop), only sufficiently-low
    * negatives are. A decision can therefore differ from the exact
    * gate's ONLY when the sketch UNDERESTIMATES by more than the margin
    * (a false negative); [[twoStageReport]] measures that residue —
    * 0 at both test SFs, with 54 of 1.78M pairs verified at sf0.1.
    *
    * Estimate: from Ĵ = m/64 and exact sizes, |D∩E| ≈ Ĵ(n_d+n_e)/(1+Ĵ),
    * so eval-side containment ≈ m·(n_d+n_e) / ((64+m)·n_e) — evaluated
    * as an exact round-half-up rational (the [[Dedup.containmentMinhashEstFrom]]
    * formula, oriented eval-side). Docs too short to shingle score 0
    * (clean), mirroring the exact gate. One row per DISTINCT doc id:
    * (id, max_est_bps, n_pairs, n_verified_pairs, contaminated).
    */
  def twoStageGate(
      docs: DataFrame,
      evals: DataFrame,
      thresholdBps: Long = 8000L,
      marginBps: Long = 1500L,
      shingleN: Int = 3,
      numHashes: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    require(marginBps >= 0 && marginBps < thresholdBps, "margin must sit inside the threshold")
    val lo = thresholdBps - marginBps
    val evBase = evals
      .select(col(idCol).cast("long").as("eval_id"),
        graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("es"))
      .filter(size(col("es")) > 0)
      .localCheckpoint(eager = true) // |evals| rows; read by sig + verify legs
    val evSig = evBase.select(
      col("eval_id"), size(col("es")).cast("long").as("n_e"),
      Dedup.minhashMd5Signature(col("es"), numHashes).as("esig"))
    // the per-doc INDEX row — one corpus scan, then stage 1 never touches
    // text or sets again (at 100 TB this frame is what the build step
    // persists next to the corpus)
    val docSig = docs
      .select(col(idCol),
        graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("ds"))
      .select(col(idCol), size(col("ds")).cast("long").as("n_d"),
        Dedup.minhashMd5Signature(col("ds"), numHashes).as("dsig"))
      .localCheckpoint(eager = true) // |docs| × (1 + numHashes) longs
    val est = docSig
      .crossJoin(broadcast(evSig)) // |evals|-row suite, stage 1 is signature-only
      .select(col(idCol), col("eval_id"), col("n_d"), col("n_e"),
        // ONE codegen'd signature fold per pair: the interpreted
        // zip_with+aggregate form was 64 boxed lambda evals × |docs|·|evals|
        // pairs — the whole cost of stage 1
        when(col("dsig").isNotNull,
          coalesce(graft.functions.LongVecExpr.matchCount(col("dsig"), col("esig")), lit(0L)))
          .otherwise(lit(0L)).as("m"))
      .select(col(idCol), col("eval_id"),
        scaledRatio(
          col("m") * (col("n_d") + col("n_e")),
          (lit(numHashes.toLong) + col("m")) * col("n_e"),
          10000L).cast("long").as("est_bps"))
      // est feeds BOTH the band cut and the per-doc rollup — without the
      // checkpoint the corpus-sized signature fold runs twice
      .localCheckpoint(eager = true)
    val band = est
      .filter(col("est_bps") >= lo)
      .select(col(idCol), col("eval_id"))
      .localCheckpoint(eager = true) // the measured sliver stage 2 pays for
    // stage 2: sets computed AFTER the band cut, for band docs only
    val verified = band
      .join(docs.select(col(idCol), col(textCol)), Seq(idCol))
      .select(col(idCol), col("eval_id"),
        graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("ds"))
      .join(broadcast(evBase), Seq("eval_id"))
      .select(col(idCol), col("eval_id"),
        scaledRatio(
          size(array_intersect(col("ds"), col("es"))).cast("long"),
          size(col("es")).cast("long"),
          10000L).cast("long").as("exact_bps"))
    val perDoc = est
      .join(verified, Seq(idCol, "eval_id"), "left")
      .groupBy(col(idCol))
      .agg(
        max(col("est_bps")).as("max_est_bps"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("est_bps") >= lo, 1L).otherwise(0L)).as("n_verified_pairs"),
        // a positive is ONLY ever an exact-verified positive
        max(when(col("exact_bps") >= thresholdBps, 1).otherwise(0)).as("contaminated"))
    // same empty-safe distinct-id spine as the exact gate
    docs
      .select(col(idCol))
      .distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("max_est_bps"), lit(0L)).as("max_est_bps"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_verified_pairs"), lit(0L)).as("n_verified_pairs"),
        coalesce(col("contaminated"), lit(0)).cast("int").as("contaminated"))
  }

  /** The measured face of [[twoStageGate]]: runs BOTH the two-stage gate
    * and the exact [[evalContainmentGate]] over the same frames and
    * reports, in one row, the work stage 2 skipped
    * (`verify_reduction_bps`) and the decisions it got wrong for it
    * (`n_disagree` — structurally false-negative-only, 0 whenever no
    * trusted-clean estimate underestimated past the margin).
    */
  def twoStageReport(
      docs: DataFrame,
      evals: DataFrame,
      thresholdBps: Long = 8000L,
      marginBps: Long = 1500L,
      shingleN: Int = 3,
      numHashes: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    twoStageReportFrom(
      twoStageGate(docs, evals, thresholdBps, marginBps, shingleN, numHashes, idCol, textCol),
      docs, evals, thresholdBps, shingleN, idCol, textCol)

  /** [[twoStageReport]] off an already-built gate frame, so the report
    * face and the flags face can share ONE signature build + band verify
    * (the sharedLeg discipline).
    */
  def twoStageReportFrom(
      two: DataFrame,
      docs: DataFrame,
      evals: DataFrame,
      thresholdBps: Long = 8000L,
      shingleN: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    val exact = evalContainmentGate(docs, evals, thresholdBps, shingleN, idCol, textCol)
      .select(col(idCol), col("contaminated").as("contam_exact"))
    two
      .join(exact, Seq(idCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_pairs")).as("n_pairs_scored"),
        sum(col("n_verified_pairs")).as("n_pairs_verified"),
        sum(col("contaminated").cast("long")).as("n_contam_two_stage"),
        sum(col("contam_exact").cast("long")).as("n_contam_exact"),
        sum((col("contaminated") =!= col("contam_exact")).cast("long")).as("n_disagree"))
      .select(
        col("n_docs"), col("n_pairs_scored"), col("n_pairs_verified"),
        scaledRatio(
          col("n_pairs_scored") - col("n_pairs_verified"),
          greatest(col("n_pairs_scored"), lit(1L)),
          10000L).cast("long").as("verify_reduction_bps"),
        col("n_contam_two_stage"), col("n_contam_exact"), col("n_disagree"))
  }

  /** The surviving corpus: documents sharing NO n-gram with the benchmark.
    * The contaminated-id set from [[overlapCounts]] is itself small (hits
    * only), so the final anti-join broadcasts too — the corpus is scanned,
    * never shuffled.
    */
  def decontaminate(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8
  ): DataFrame = {
    val hit = overlapCounts(docs, bench, idCol, textCol, n).select(col(idCol))
    docs.join(broadcast(hit), Seq(idCol), "left_anti")
  }

  /** NEAR-duplicate contamination: corpus documents that are MinHash
    * near-dups of a benchmark item — the fuzzier screen the exact n-gram
    * overlap and containment measures miss once an eval item has been
    * lightly paraphrased. Runs the md5 (oracle-portable) MinHash-LSH pair
    * pipeline over the COMBINED corpus+benchmark frame, keeps only
    * cross-side pairs, and reports each contaminated corpus doc with its
    * match count and best Jaccard in exact basis points.
    *
    * `isBench` must be a pure function of the ID column (evaluated on both
    * pair sides — no join back to the data), which is what keeps the
    * post-pairing stage expression-only.
    */
  def nearDupContamination(
      docs: DataFrame,
      isBench: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.5
  ): DataFrame = {
    val pairs = Dedup.minhashMd5Pairs(docs, idCol, textCol, threshold = threshold)
    pairs
      .where(isBench(col("id_a")) =!= isBench(col("id_b")))
      .select(
        when(isBench(col("id_a")), col("id_b")).otherwise(col("id_a")).as(idCol),
        floor(col("jaccard") * 10000 + 0.5).cast("long").as("jbp")
      )
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_bench_matches"),
        max(col("jbp")).as("best_jaccard_bp")
      )
  }
}
