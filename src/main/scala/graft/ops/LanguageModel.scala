package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Perplexity-style quality filtering with a corpus-trained n-gram
  * language model — the CCNet recipe (train a small LM, drop documents
  * whose average log-likelihood is an outlier), with the LM expressed as
  * DataFrames instead of a model server.
  *
  * Model: bigram LM with add-one smoothing over the corpus's own
  * vocabulary. P(w₂|w₁) = (c(w₁,w₂) + 1) / (ctx(w₁) + V), where ctx(w₁) =
  * Σ_w c(w₁,w) is derived from the bigram counts by a window (NOT a second
  * aggregation over the corpus — DataFrame lineage has no common-subplan
  * reuse) and V is the bigram-right vocabulary size.
  *
  * Portability: each bigram's log-probability rounds to integer
  * micro-units before the per-document sum (long addition — associative,
  * engine-independent), the same contract as `bm25_topk`/`quality_logit`.
  *
  * 100 TB shape: one training scan (explode → hash agg on (w₁,w₂); the
  * counts frame is vocabulary-bounded, not corpus-bounded) and one scoring
  * scan joined to the counts frame on (w₁,w₂). In production the counts
  * frame would persist as a table and amortize across scoring runs; AQE
  * handles the head-bigram skew in the scoring join.
  */
object LanguageModel {

  /** Bigram counts with left-context totals attached: (w1, w2, c2, ctx). */
  def bigramLm(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val bc = docs
      .select(explode(TextAnalysis.ngramsWithDups(col(textCol), 2)).as("g"))
      .select(split(col("g"), " ", 2).as("p"))
      .select(col("p").getItem(0).as("w1"), col("p").getItem(1).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val wCtx = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    bc.withColumn("ctx", sum(col("c2")).over(wCtx))
  }

  /** Per-document bigram log-likelihood in micro-units:
    * (doc_id, n_bigrams, lp_sum_micro). Documents with < 2 tokens have no
    * bigrams and drop out (no likelihood is defined for them).
    *
    * Bigrams UNSEEN in training get the add-one smoothed probability they
    * deserve rather than being dropped: c2 → 0, and the context count
    * ctx(w1) comes from a per-w1 lookup (0 when w1 itself is unseen), so
    * lp = ln(1/(ctx+V)). This makes train-on-sample / score-on-corpus
    * unbiased (an inner join would overstate likelihoods and undercount
    * n_bigrams); on the self-scoring path (score == train corpus) every
    * bigram is present and the coalesces never fire — identical results.
    */
  def docLogLikelihood(
      docs: DataFrame,
      lm: DataFrame,
      vocabSize: Long,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val docBigrams = docs
      .select(col(idCol), explode(TextAnalysis.ngramsWithDups(col(textCol), 2)).as("g"))
      .select(col(idCol), split(col("g"), " ", 2).as("p"))
      .select(col(idCol), col("p").getItem(0).as("w1"), col("p").getItem(1).as("w2"))
    // ctx is constant per w1 in the LM frame; the per-w1 table is
    // vocabulary-bounded (one more pass over the — cached — LM, never
    // the corpus)
    val ctxTab = lm.groupBy(col("w1")).agg(max(col("ctx")).as("ctx1"))
    val c2s = coalesce(col("c2"), lit(0L))
    val ctxs = coalesce(col("ctx1"), lit(0L))
    val lpMicro = floor(
      log((c2s.cast("double") + lit(1.0)) /
        (ctxs.cast("double") + lit(vocabSize.toDouble))) * lit(1e6) + lit(0.5)
    ).cast("long")
    docBigrams
      .join(lm.select(col("w1"), col("w2"), col("c2")), Seq("w1", "w2"), "left")
      .join(ctxTab, Seq("w1"), "left")
      .select(col(idCol), lpMicro.as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lp_sum_micro"))
  }

  /** CCNet-style head/middle/tail perplexity split (Wenzek et al. 2020):
    * rank documents by average bigram log-likelihood (higher = more
    * fluent = lower perplexity) and cut into `nBuckets` equal tiles —
    * head and middle survive, the tail (noisy/boilerplate outliers) is
    * dropped. Tile semantics are exactly SQL NTILE over the total order
    * (avg_lp_micro DESC, id): the first n mod k tiles take the extra row.
    *
    * Scale shape (the round-6 fix): NO unpartitioned window anywhere.
    * The total order is produced the way a 1000-executor cluster ranks
    * billions of rows — `repartitionByRange` on the sort key (sampled
    * range bounds, each executor sorts only its own range) + partition-
    * local sort + `zipWithIndex` (whose only driver state is the ≤ P
    * per-partition row counts). The tile is then a closed-form function
    * of (rank, N, k) evaluated map-side — the distributed-sort ranking
    * replaces round 5's `WindowExec: No Partition Defined` single-task
    * sort of the whole doc frame, and reproduces NTILE bit-for-bit
    * because ranks are exact and (avg_lp_micro, id) is a total order.
    */
  def pplBuckets(
      docs: DataFrame,
      nBuckets: Int = 3,
      keepTiles: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    // validate the cheap config BEFORE the LM build: the vocab count in
    // the pplBucketsFrom argument list is a full training Spark job, and
    // an invalid tile config must not pay a corpus pass to throw
    require(nBuckets >= 2 && keepTiles >= 1 && keepTiles <= nBuckets, "bad tile config")
    val lm = bigramLm(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try pplBucketsFrom(docs, lm, lm.select(col("w2")).distinct().count(),
      nBuckets, keepTiles, textCol, idCol)
    finally lm.unpersist(blocking = false)
  }

  /** [[pplBuckets]] off a shared (possibly memoized) LM frame and its
    * vocabulary size — optimization r15: four faces (buckets, self-score,
    * next-token, DoReMi reference) each re-trained the identical corpus
    * bigram LM per bench pass.
    */
  def pplBucketsFrom(
      docs: DataFrame,
      lm: DataFrame,
      v: Long,
      nBuckets: Int = 3,
      keepTiles: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(nBuckets >= 2 && keepTiles >= 1 && keepTiles <= nBuckets, "bad tile config")
    locally {
      // Per-doc score frame: one row per document — cached because both
      // the count and the ranked pass read it.
      val scored = docLogLikelihood(docs, lm, v, textCol, idCol)
        .withColumn("avg_lp_micro",
          floor(col("lp_sum_micro").cast("double") / col("n_bigrams").cast("double") + lit(0.5))
            .cast("long"))
        .select(col(idCol), col("avg_lp_micro"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = scored.count()
        // Distributed total order via the shared Ranking primitive:
        // range-partition + local sort + exact zipWithIndex offsets, so
        // rank r is exactly the NTILE row position. (score, id) is
        // duplicate-free, satisfying the total-order contract.
        val ranked = Ranking.globalRowNumber(
          scored, Seq(col("avg_lp_micro").desc, col(idCol).asc), "rk")
        // NTILE(k) over N rows in closed form: the first N mod k tiles
        // hold ⌈N/k⌉ rows, the rest ⌊N/k⌋.
        val base = n / nBuckets
        val extra = n % nBuckets
        val cut = extra * (base + 1) // last row position covered by the fat tiles
        val tile =
          if (base == 0) col("rk") // fewer rows than tiles: one row per tile
          else when(
            col("rk") <= lit(cut),
            expr(s"(rk - 1) div ${base + 1} + 1")
          ).otherwise(expr(s"$extra + (rk - $cut - 1) div $base + 1"))
        ranked
          .withColumn("tile", tile.cast("int"))
          .withColumn("keep", (col("tile") <= keepTiles).cast("int"))
          .select(col(idCol), col("avg_lp_micro"), col("tile"), col("keep"))
          .localCheckpoint(eager = true)
      } finally scored.unpersist(blocking = false)
    }
  }

  /** DoReMi-flavored domain reweighting from MEASURED excess loss (Xie et
    * al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining" — adapted to the in-engine exact-replay discipline):
    * a reference bigram LM trained on the full corpus and a PROXY LM
    * trained on a small deterministic subsample (`doc_id % sampleMod = 0`
    * — the cheap model a mixture search can afford) both score every
    * document; a domain's excess loss is how much worse the proxy handles
    * it (mean per-bigram NLL difference, clipped at 0), and domains the
    * proxy under-serves get their corpus share multiplicatively boosted
    * (1 + η·excess), renormalized, then smoothed toward uniform — the
    * exponentiated-gradient step DoReMi iterates, materialized once over
    * measured likelihoods instead of a training loop.
    *
    * Exactness: per-bigram log-probabilities are the same micro-rounded
    * ln as [[docLogLikelihood]] (ln-margin audited); every aggregate,
    * share, boost, and the uniform smoothing is integer arithmetic with
    * round-half-up closes — fully SQL-replayable.
    *
    * Shape: two vocabulary-bounded LM frames, two scoring passes over the
    * corpus (each one broadcast-joinable LM lookup), one sources-row
    * aggregation; the reweight close is a 1-row total crossed back.
    *
    * Output per source: bigram mass, base corpus share (bps), mean
    * reference/proxy NLL (micro-nats), excess, the reweighted share, and
    * the uniform-smoothed final share.
    */
  def domainExcessReweight(
      docs: DataFrame,
      srcCol: String = "source",
      sampleMod: Int = 5,
      etaPerNat: Long = 2L,
      smoothBps: Long = 2000L,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val store = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lmRef = bigramLm(docs, textCol).persist(store)
    try domainExcessReweightFrom(
      docs, lmRef, lmRef.select(col("w2")).distinct().count(),
      srcCol, sampleMod, etaPerNat, smoothBps, textCol, idCol)
    finally lmRef.unpersist(blocking = false)
  }

  /** [[domainExcessReweight]] with the reference LM injected (the proxy
    * LM is subsample-trained and stays private) — the shared-LM rationale
    * of [[pplBucketsFrom]].
    */
  def domainExcessReweightFrom(
      docs: DataFrame,
      lmRef: DataFrame,
      vRef: Long,
      srcCol: String = "source",
      sampleMod: Int = 5,
      etaPerNat: Long = 2L,
      smoothBps: Long = 2000L,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    require(sampleMod >= 2, "the proxy must train on a strict subsample")
    require(smoothBps >= 0 && smoothBps <= 10000, "smoothing is bps in [0, 10000]")
    val store = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lmPx = bigramLm(docs.filter(col(idCol) % sampleMod === 0), textCol).persist(store)
    try {
      val vPx = lmPx.select(col("w2")).distinct().count()
      val ref = docLogLikelihood(docs, lmRef, vRef, textCol, idCol)
      val px = docLogLikelihood(docs, lmPx, vPx, textCol, idCol)
        .select(col(idCol), col("lp_sum_micro").as("lp_px"))
      val bySrc = ref
        .join(px, Seq(idCol)) // same docs, same bigram counts on both sides
        .join(docs.select(col(idCol), col(srcCol).as("source")), Seq(idCol))
        .groupBy(col("source"))
        .agg(
          sum(col("n_bigrams")).as("n_bigrams"),
          sum(-col("lp_sum_micro")).as("nll_ref_sum"),
          sum(-col("lp_px")).as("nll_px_sum"))
        .select(
          col("source"), col("n_bigrams"),
          scaledRatio(col("nll_ref_sum"), col("n_bigrams"), 1L).cast("long")
            .as("nll_ref_micro"),
          scaledRatio(col("nll_px_sum"), col("n_bigrams"), 1L).cast("long")
            .as("nll_proxy_micro"))
        .withColumn("excess_micro",
          greatest(lit(0L), col("nll_proxy_micro") - col("nll_ref_micro")))
        .localCheckpoint(eager = true) // sources-row frame; closed twice below
      val tot = bySrc.agg(
        sum(col("n_bigrams")).as("nb_total"),
        count(lit(1)).cast("long").as("k"))
      val boosted = bySrc
        .crossJoin(broadcast(tot)) // 1-row totals
        .withColumn("base_share_bps",
          scaledRatio(col("n_bigrams"), col("nb_total"), 10000L).cast("long"))
        .withColumn("raw",
          col("base_share_bps") * (lit(1000000L) + lit(etaPerNat) * col("excess_micro")))
        .localCheckpoint(eager = true)
      val rawTot = boosted.agg(sum(col("raw")).as("raw_total"))
      boosted
        .crossJoin(broadcast(rawTot)) // 1-row normalizer
        .withColumn("reweight_bps",
          scaledRatio(col("raw"), col("raw_total"), 10000L).cast("long"))
        .withColumn("uniform_bps", scaledRatio(lit(1L), col("k"), 10000L).cast("long"))
        .withColumn("smoothed_bps", // integer round-half-up (DIV, not `/`)
          expr(s"((10000 - $smoothBps) * reweight_bps" +
            s" + $smoothBps * uniform_bps + 5000) DIV 10000"))
        .select(
          col("source"), col("n_bigrams"), col("base_share_bps"),
          col("nll_ref_micro"), col("nll_proxy_micro"), col("excess_micro"),
          col("reweight_bps"), col("smoothed_bps"))
    } finally lmPx.unpersist(blocking = false)
  }

  /** Train-and-score in one call (scoring corpus = training corpus, the
    * self-scoring setup used to find outlier documents). Adds the keep
    * decision: average log-prob above `minAvgLpMicro`.
    */
  def selfScore(
      docs: DataFrame,
      minAvgLpMicro: Long,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    // The LM frame is read twice (V, then the scoring join) — cache it
    // (vocabulary-bounded, small), eagerly materialize the tiny result,
    // and drop the cache before returning (Dedup's discipline).
    val lm = bigramLm(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try selfScoreFrom(docs, lm, lm.select(col("w2")).distinct().count(),
      minAvgLpMicro, textCol, idCol)
    finally lm.unpersist(blocking = false)
  }

  /** [[selfScore]] off a shared LM frame (same rationale as
    * [[pplBucketsFrom]]).
    */
  def selfScoreFrom(
      docs: DataFrame,
      lm: DataFrame,
      v: Long,
      minAvgLpMicro: Long,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    docLogLikelihood(docs, lm, v, textCol, idCol)
      .withColumn("avg_lp_micro",
        floor(col("lp_sum_micro").cast("double") / col("n_bigrams").cast("double") + lit(0.5))
          .cast("long"))
      .withColumn("keep", (col("avg_lp_micro") > lit(minAvgLpMicro)).cast("int"))
      .localCheckpoint(eager = true)
}
