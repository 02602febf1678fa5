package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.registry.Shared._

/** Document quality signals over `documents`: the heuristic quality logit,
  * the in-engine trained quality filter (logit, scores, AUC, calibration,
  * conformal gate, ablations) and their agreement reports.
  */
object QualityQueries {

  /** The per-language feature frame and iters=3 trained trajectories —
    * the trajectory face and the per-language AUC eval previously each
    * re-ran the identical feature build + GD passes per bench pass
    * (optimization r16). Driver state: |langs| × iters × 5 longs.
    */
  private def sharedLangTrained(
      s: SparkSession, dir: String): (DataFrame, Map[String, Seq[Array[Long]]]) =
    sharedState(s, dir, "langTrained_i3") {
      val feat = graft.ops.QualityTrainer
        .featuresGrouped(table(s, dir, "documents"), "lang")
        .localCheckpoint(eager = true)
      (feat, graft.ops.QualityTrainer.trainByGroup(feat, iters = 3))
    }

  /** 5-fold cross-validated AUC of the in-engine trainer: five
    * independently-trained GD chains (each on 4/5 of the corpus via
    * [[qualityGdChain]] suffixes), each scored on ITS held-out fold and
    * closed with the same midrank rank-sum AUC the single-model row uses.
    */
  private def qualityCvAucOracle(iters: Int, folds: Int): String = {
    val chains = (0 until folds)
      .map(f => qualityGdChain(iters, s"f$f", s"feat.doc_id % $folds != $f"))
      .mkString(",\n")
    val evals = (0 until folds).map { f =>
      s"""${pMicroCte(s"pf$f", "feat.y", s"feat, w${iters}f${f}_ w WHERE feat.doc_id % $folds = $f")}
        |), cntf$f AS (
        |  SELECT p_micro,
        |    CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM pf$f GROUP BY 1
        |), cumf$f AS (
        |  SELECT c0, c1, sum(c0 + c1) OVER (ORDER BY p_micro) AS cum_all
        |  FROM cntf$f
        |), aggf$f AS (
        |  SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c0) AS HUGEINT) AS n0,
        |    CAST(sum(CAST(c1 AS HUGEINT) *
        |      (2*(cum_all - (c0 + c1)) + (c0 + c1) + 1)) AS HUGEINT) AS r1x2
        |  FROM cumf$f
        |)""".stripMargin
    }.mkString(",\n")
    val out = (0 until folds).map { f =>
      s"""SELECT CAST($f AS INT) AS fold, CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
        |  CAST(r1x2 - n1*(n1+1) AS BIGINT) AS u2_pos,
        |  CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN
        |    (20000*(r1x2 - n1*(n1+1)) + 2*n1*n0) // (4*n1*n0) END AS BIGINT) AS auc_bps
        |FROM aggf$f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $qualityFeatCtes,\n$chains,\n$evals\n$out"
  }

  /** Ablation replay: six GD chains (full + one per zeroed weight) over
    * the whole corpus, an in-sample rank-sum AUC per chain, and the drop
    * against the full chain — mirrors
    * [[graft.ops.QualityTrainer.featureAblationAucs]].
    */
  private def qualityAblationOracle(iters: Int): String = {
    val names = Seq("bias", "volume", "stop_ratio", "punct_ratio", "diversity")
    val chains = (0 to 5).map { a =>
      qualityGdChain(iters, s"a$a", "1=1", if (a == 0) None else Some(a - 1))
    }.mkString(",\n")
    val evals = (0 to 5).map { a =>
      s"""${pMicroCte(s"pa$a", "feat.y", s"feat, w${iters}a${a}_ w")}
        |), cnta$a AS (
        |  SELECT p_micro,
        |    CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM pa$a GROUP BY 1
        |), cuma$a AS (
        |  SELECT c0, c1, sum(c0 + c1) OVER (ORDER BY p_micro) AS cum_all
        |  FROM cnta$a
        |), agga$a AS (
        |  SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c0) AS HUGEINT) AS n0,
        |    CAST(sum(CAST(c1 AS HUGEINT) *
        |      (2*(cum_all - (c0 + c1)) + (c0 + c1) + 1)) AS HUGEINT) AS r1x2
        |  FROM cuma$a
        |), auca$a AS (
        |  SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
        |    CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN
        |      (20000*(r1x2 - n1*(n1+1)) + 2*n1*n0) // (4*n1*n0) END AS BIGINT) AS auc_bps
        |  FROM agga$a
        |)""".stripMargin
    }.mkString(",\n")
    val tags = "none" +: names
    val out = (0 to 5).map { a =>
      s"""SELECT '${tags(a)}' AS dropped_feature, x.n_pos, x.n_neg, x.auc_bps,
        |  f.auc_bps - x.auc_bps AS auc_drop_bps
        |FROM auca$a x, auca0 f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $qualityFeatCtes,\n$chains,\n$evals\n$out"
  }

  /** Leave-one-source-out replay: one GD chain per dropped source (rows
    * filtered by a provenance subquery), every model evaluated with the
    * same full-corpus midrank-AUC tail — mirrors
    * [[graft.ops.QualityTrainer.sourceAblationAucs]].
    */
  private def sourceAblationOracle(iters: Int, sources: Seq[String]): String = {
    val tags = "none" +: sources
    val preds = "1=1" +: sources.map(s =>
      s"feat.doc_id IN (SELECT doc_id FROM documents WHERE source != '$s')")
    val chains = preds.zipWithIndex
      .map { case (p, i) => qualityGdChain(iters, s"s$i", p) }
      .mkString(",\n")
    val evals = tags.indices.map { a =>
      s"""${pMicroCte(s"ps$a", "feat.y", s"feat, w${iters}s${a}_ w")}
        |), cnts$a AS (
        |  SELECT p_micro,
        |    CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM ps$a GROUP BY 1
        |), cums$a AS (
        |  SELECT c0, c1, sum(c0 + c1) OVER (ORDER BY p_micro) AS cum_all
        |  FROM cnts$a
        |), aggs$a AS (
        |  SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c0) AS HUGEINT) AS n0,
        |    CAST(sum(CAST(c1 AS HUGEINT) *
        |      (2*(cum_all - (c0 + c1)) + (c0 + c1) + 1)) AS HUGEINT) AS r1x2
        |  FROM cums$a
        |), aucs$a AS (
        |  SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
        |    CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN
        |      (20000*(r1x2 - n1*(n1+1)) + 2*n1*n0) // (4*n1*n0) END AS BIGINT) AS auc_bps
        |  FROM aggs$a
        |)""".stripMargin
    }.mkString(",\n")
    val out = tags.indices.map { a =>
      s"""SELECT '${tags(a)}' AS dropped_source, x.n_pos, x.n_neg, x.auc_bps,
        |  f.auc_bps - x.auc_bps AS auc_drop_bps
        |FROM aucs$a x, aucs0 f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $qualityFeatCtes,\n$chains,\n$evals\n$out"
  }

  /** Confident-learning replay: the cv-auc fold chains, an out-of-fold
    * score union, the four threshold scalars, and the cross-multiplied
    * confident-class CASE — mirrors
    * [[graft.ops.QualityTrainer.labelNoiseMatrix]] term by term.
    */
  private def labelNoiseOracle(iters: Int, folds: Int): String = {
    val chains = (0 until folds)
      .map(f => qualityGdChain(iters, s"f$f", s"feat.doc_id % $folds != $f"))
      .mkString(",\n")
    val evals = (0 until folds).map { f =>
      s"""oosf$f AS (
        |  SELECT feat.y,
        |    CAST(floor((w.w0*feat.x0 + w.w1*feat.x1 + w.w2*feat.x2 + w.w3*feat.x3 + w.w4*feat.x4)
        |      / 1000000.0) AS HUGEINT) AS p_micro
        |  FROM feat, w$iters${s"f$f"}_ w WHERE feat.doc_id % $folds = $f
        |)""".stripMargin
    }.mkString(",\n")
    val union = (0 until folds).map(f => s"SELECT * FROM oosf$f").mkString(" UNION ALL ")
    s"""WITH $qualityFeatCtes,
      |$chains,
      |$evals,
      |oos AS ($union),
      |th AS (
      |  SELECT CAST(sum(CASE WHEN y = 1 THEN p_micro ELSE 0 END) AS HUGEINT) AS sum1,
      |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
      |    CAST(sum(CASE WHEN y = 0 THEN p_micro ELSE 0 END) AS HUGEINT) AS sum0,
      |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
      |    CAST(count(*) AS HUGEINT) AS n_total
      |  FROM oos
      |), cls AS (
      |  SELECT o.y AS label,
      |    CASE
      |      WHEN o.p_micro*t.n1 >= t.sum1 AND o.p_micro*t.n0 <= t.sum0 THEN
      |        CASE WHEN o.p_micro*2*t.n0*t.n1 >= t.sum0*t.n1 + t.sum1*t.n0
      |          THEN 1 ELSE 0 END
      |      WHEN o.p_micro*t.n1 >= t.sum1 THEN 1
      |      WHEN o.p_micro*t.n0 <= t.sum0 THEN 0
      |    END AS true_class,
      |    t.n_total
      |  FROM oos o, th t
      |)
      |SELECT CAST(label AS BIGINT) AS label, CAST(true_class AS BIGINT) AS true_class,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST((2*10000*CAST(count(*) AS HUGEINT) + max(n_total))
      |    // (2*max(n_total)) AS INT) AS share_bps
      |FROM cls GROUP BY 1, 2""".stripMargin
  }

  private def qualityTrainedLogitOracle(iters: Int): String = {
    val names = Seq("bias", "volume", "stop_ratio", "punct_ratio", "diversity")
    val out = (1 to iters).flatMap { t =>
      names.zipWithIndex.map { case (name, j) =>
        s"SELECT CAST($t AS INT) AS iter, '$name' AS feature, CAST(w$j AS BIGINT) AS w_micro FROM w${t}_"
      }
    }.mkString("\n", "\nUNION ALL\n", "")
    s"WITH ${qualityTrainedCtes(iters)}$out"
  }

  private def qualityTrainedScoresOracle(iters: Int): String =
    s"""WITH ${qualityTrainedCtes(iters)}, ${pMicroCte("p", "feat.doc_id", s"feat, w${iters}_ w")}
      |)
      |SELECT doc_id, p_micro,
      |  CAST(CASE WHEN p_micro > 500000 THEN 1 ELSE 0 END AS INT) AS keep_trained
      |FROM p""".stripMargin

  private def qualityConformalOracle(iters: Int): String =
    s"""WITH ${qualityConformalCtes(iters)}
      |SELECT p.doc_id, p.p_micro, CAST(q.qhat AS BIGINT) AS qhat_micro,
      |  CAST(CASE WHEN 1000000 - p.p_micro <= q.qhat THEN 1 ELSE 0 END AS INT)
      |    AS conformal_keep
      |FROM p, q WHERE p.doc_id % 5 != 0""".stripMargin

  /** Per-group GD replay: [[qualityTrainedCtes]] with every state CTE
    * keyed by the group column (lang) — weights, gradients, and document
    * counts per group, chained `iters` times.
    */
  private def qualityTrainedGroupOracle(iters: Int): String = {
    val base =
      s"""WITH $GopherRulesCtes, $QualityLogitCtes, feat AS MATERIALIZED (
        |  SELECT f.doc_id, d.lang AS grp,
        |    CAST(1000000 AS BIGINT) AS x0,
        |    CAST(least(f.n_tokens, 200) * 5000 AS BIGINT) AS x1,
        |    least(CAST(floor(f.n_stop * 4000000.0 / greatest(f.n_tokens, 1)) AS BIGINT), 1000000) AS x2,
        |    least(CAST(floor(f.n_punct * 10000000.0 / greatest(f.n_chars, 1)) AS BIGINT), 1000000) AS x3,
        |    CAST(floor(f.n_distinct * 1000000.0 / greatest(f.n_tokens, 1)) AS BIGINT) AS x4,
        |    CAST(g.keep AS BIGINT) AS y
        |  FROM f JOIN gop g ON g.doc_id = f.doc_id
        |    JOIN documents d ON d.doc_id = f.doc_id
        |), ng AS MATERIALIZED (SELECT grp, CAST(count(*) AS HUGEINT) AS n FROM feat GROUP BY 1),
        |w0_ AS MATERIALIZED (SELECT grp, CAST(0 AS HUGEINT) AS w0, CAST(0 AS HUGEINT) AS w1,
        |  CAST(0 AS HUGEINT) AS w2, CAST(0 AS HUGEINT) AS w3, CAST(0 AS HUGEINT) AS w4 FROM ng)""".stripMargin
    val steps = (1 to iters).map { t =>
      val prev = s"w${t - 1}_"
      val upd = (0 to 4).map { j =>
        s"""w.w$j - ((2*g.g$j + 2000000*ng.n) -
           |      ((((2*g.g$j + 2000000*ng.n) % (4000000*ng.n)) + 4000000*ng.n) % (4000000*ng.n)))
           |      // (4000000*ng.n) AS w$j""".stripMargin
      }.mkString(",\n    ")
      s""", e$t AS (
         |  SELECT feat.*,
         |    CAST(floor((w.w0*feat.x0 + w.w1*feat.x1 + w.w2*feat.x2 + w.w3*feat.x3 + w.w4*feat.x4)
         |      / 1000000.0) AS HUGEINT) - feat.y*1000000 AS err
         |  FROM feat JOIN $prev w ON w.grp = feat.grp
         |), gr$t AS (
         |  SELECT grp, sum(err*x0) AS g0, sum(err*x1) AS g1, sum(err*x2) AS g2,
         |    sum(err*x3) AS g3, sum(err*x4) AS g4
         |  FROM e$t GROUP BY grp
         |), w${t}_ AS MATERIALIZED (
         |  SELECT w.grp, $upd
         |  FROM $prev w JOIN gr$t g ON g.grp = w.grp JOIN ng ON ng.grp = w.grp
         |)""".stripMargin
    }.mkString
    val names = Seq("bias", "volume", "stop_ratio", "punct_ratio", "diversity")
    val out = (1 to iters).flatMap { t =>
      names.zipWithIndex.map { case (name, j) =>
        s"SELECT CAST($t AS INT) AS iter, grp AS lang, '$name' AS feature, CAST(w$j AS BIGINT) AS w_micro FROM w${t}_"
      }
    }.mkString("\n", "\nUNION ALL\n", "")
    base + steps + out
  }

  /** The per-group GD CTE chain alone (through `w<iters>_`, keyed by
    * grp) — shared by the trajectory oracle and the per-lang AUC oracle.
    */
  private def qualityTrainedGroupCtes(iters: Int): String = {
    val full = qualityTrainedGroupOracle(iters)
    full.substring(0, full.indexOf("\nSELECT CAST(1 AS INT) AS iter"))
  }

  val entries: Seq[Query] = Seq(
    Query("quality_score") { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text"), length(col("text"))).as("quality"))
    }.oracle(
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['the','and','of','to','in','is'], t))) AS INT) AS n_stop
        |  FROM documents
        |)
        |SELECT doc_id,
        |  round((least(n_tokens, 100) / 100.0) * 0.4
        |      + least(n_stop * 4.0 / greatest(n_tokens, 1), 1.0) * 0.3
        |      + (1.0 - least(n_punct * 10.0 / greatest(n_chars, 1), 1.0)) * 0.3, 4) AS quality
        |FROM f""".stripMargin),
    Query("fair_quality_thresholds") { (s, dir) =>
      // Mixture-preserving quality cuts: the per-source top-20% score
      // threshold (exact nearest-rank order statistic) next to the one
      // global cut and what it would keep from each source — the CCNet
      // quality-vs-domain confound, measured per source; global k-th
      // statistic via the distributed ranking primitive
      // (ops/Sampling.scala).
      val docs = table(s, dir, "documents")
      graft.ops.Sampling.fairThresholds(
        docs.select(
          col("source"), col("doc_id"),
          TextAnalysis.qualityLogit(col("text"), length(col("text"))).as("score")))
    }.oracle(
      s"""WITH $QualityLogitCtes, sc AS (
        |  SELECT d.source, s.doc_id, s.logit_micro AS score
        |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
        |  FROM sc
        |), g AS (
        |  SELECT score AS global_threshold FROM (
        |    SELECT score, row_number() OVER (ORDER BY score DESC, doc_id) AS grk,
        |      count(*) OVER () AS n
        |    FROM sc)
        |  WHERE grk = greatest(1, (n * 2000) // 10000)
        |), fair AS (
        |  SELECT source, n_docs, CAST(rk AS BIGINT) AS n_keep_fair,
        |    score AS fair_threshold
        |  FROM r WHERE rk = greatest(1, (n_docs * 2000) // 10000)
        |), gk AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN score >= (SELECT global_threshold FROM g)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_global
        |  FROM r GROUP BY 1
        |)
        |SELECT f.source, f.n_docs, f.n_keep_fair, f.fair_threshold,
        |  gk.n_keep_global, (SELECT global_threshold FROM g) AS global_threshold
        |FROM fair f JOIN gk ON gk.source = f.source""".stripMargin),
    Query("quality_logit") { (s, dir) =>
      // Model-based quality filtering as scan-speed arithmetic: fixed-weight
      // linear classifier over cheap features, logit in oracle-exact micro
      // units (pure fixed-order double math — no libm exp in the compare).
      table(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityLogit(col("text"), length(col("text"))).as("logit_micro")
      ).withColumn("keep", (col("logit_micro") > 0).cast("int"))
    }.oracle(
      s"""WITH $QualityLogitCtes
        |SELECT doc_id, logit_micro,
        |  CAST(CASE WHEN logit_micro > 0 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM scored""".stripMargin),
    Query("quality_signal_spearman") { (s, dir) =>
      // Do the two cheap quality signals agree on the RANKING, not just
      // the gate? Exact-midrank Spearman between the fixed-weight logit
      // and the bigram-LM average likelihood — kappa grades one operating
      // point, this grades the whole ordering both signals induce
      // (ops/Contingency.scala spearmanMicro).
      val docs = table(s, dir, "documents")
      val logit = docs.select(
        col("doc_id"),
        TextAnalysis.qualityLogit(col("text"), length(col("text"))).as("logit_micro"))
      val lm = sharedLmSelfScore(s, dir) // optimization r15: shared LM build
        .select(col("doc_id"), col("avg_lp_micro"))
      graft.ops.Contingency.spearmanMicro(
        logit.join(lm, Seq("doc_id")), "logit_micro", "avg_lp_micro")
    }.oracle(
      s"""WITH $QualityLogitCtes, $WsToksCte
        |), bgs AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2
        |), bcs AS (
        |  SELECT w1, w2, count(*) AS c2 FROM bgs GROUP BY 1, 2
        |), lms AS MATERIALIZED (
        |  SELECT w1, w2, c2, sum(c2) OVER (PARTITION BY w1) AS ctx FROM bcs
        |), vs AS (SELECT count(DISTINCT w2) AS v FROM bcs),
        |scs AS (
        |  SELECT bgs.doc_id,
        |    CAST(floor(ln((CAST(lms.c2 AS DOUBLE) + 1.0e0)
        |        / (CAST(lms.ctx AS DOUBLE) + CAST(vs.v AS DOUBLE)))
        |      * 1e6 + 0.5e0) AS BIGINT) AS lp
        |  FROM bgs JOIN lms USING (w1, w2), vs
        |), ags AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5e0) AS BIGINT)
        |      AS avg_lp_micro
        |  FROM scs GROUP BY 1
        |), j AS MATERIALIZED (
        |  SELECT s.logit_micro AS x, a.avg_lp_micro AS y
        |  FROM scored s JOIN ags a USING (doc_id)
        |), cxr AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM j GROUP BY 1),
        |rxr AS (
        |  SELECT x, 2 * (sum(cnt) OVER (ORDER BY x) - cnt) + cnt + 1 AS r2x FROM cxr
        |), cyr AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM j GROUP BY 1),
        |ryr AS (
        |  SELECT y, 2 * (sum(cnt) OVER (ORDER BY y) - cnt) + cnt + 1 AS r2y FROM cyr
        |), jr AS (SELECT r2x, r2y FROM j JOIN rxr USING (x) JOIN ryr USING (y)),
        |ag2 AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(r2x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(r2y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(r2x AS HUGEINT) * CAST(r2y AS HUGEINT)) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(r2x AS HUGEINT) * CAST(r2x AS HUGEINT)) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(r2y AS HUGEINT) * CAST(r2y AS HUGEINT)) AS HUGEINT) AS syy
        |  FROM jr
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
        |    CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE)
        |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
        |      * 1e6 + 0.5e0) AS BIGINT)
        |  END AS rho_micro
        |FROM ag2""".stripMargin),
    Query("quality_trained_logit") { (s, dir) =>
      // TRAINED quality filter (ops/QualityTrainer.scala): distill the
      // n-gram-heavy Gopher gate into a linear scorer over cheap features
      // by exact fixed-point batch gradient descent — 4 iterations, each
      // one map-side-combined integer aggregation, 5 longs of driver
      // state. Emits the full weight trajectory so the oracle replays
      // every gradient step (the bpe_merges discipline).
      graft.ops.QualityTrainer.weightTrajectoryDf(table(s, dir, "documents"), iters = 8)
    }.oracle(qualityTrainedLogitOracle(8)),
    Query("quality_trained_scores") { (s, dir) =>
      // The inference face of the trained filter: per-doc predicted
      // keep-probability (micro-units) + thresholded decision, computed
      // as literal scan arithmetic with the just-trained weights — no
      // joins, no broadcast state, one feature-frame checkpoint shared
      // with training.
      graft.ops.QualityTrainer.trainAndScore(table(s, dir, "documents"), iters = 8)
    }.oracle(qualityTrainedScoresOracle(8)),
    Query("quality_conformal_gate") { (s, dir) =>
      // Split-conformal calibration of the trained gate: hash-split
      // calibration slice, nonconformity = 1e6 - p_micro over TRUE keeps,
      // threshold = the ceil((n+1)(1-α))-th smallest (α = 0.1) via the
      // distributed range-rank primitive — turns a raw score cut into a
      // ≥90%-recall-of-true-keeps guarantee, distribution-free
      // (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.conformalGate(table(s, dir, "documents"), iters = 8)
    }.oracle(qualityConformalOracle(8)),
    Query("trained_gate_gain") { (s, dir) =>
      // Is training worth it? kappa(trained gate, Gopher teacher) minus
      // kappa(fixed-weight gate, Gopher teacher) in one row — the
      // replace-the-heuristic decision closed to a single signed number.
      val docs = table(s, dir, "documents")
      val (feat, traj) = graft.ops.QualityTrainer.trainedState(docs, iters = 8)
      val w = traj.last
      val fixedK = docs.select(
        col("doc_id"),
        (TextAnalysis.qualityLogit(col("text"), length(col("text"))) > 0)
          .cast("int").as("keep_fixed"))
      val j = graft.ops.QualityTrainer.score(feat, w)
        .join(feat.select(col("doc_id"), col("y").cast("int").as("y")), Seq("doc_id"))
        .join(fixedK, Seq("doc_id"))
        .select(col("keep_trained"), col("keep_fixed"), col("y"))
        .localCheckpoint(eager = true) // two kappa aggregations share it
      val kT = graft.ops.Contingency.agreementKappa(j, "keep_trained", "y")
        .select(col("kappa_micro").as("kappa_trained_micro"))
      val kF = graft.ops.Contingency.agreementKappa(j, "keep_fixed", "y")
        .select(col("kappa_micro").as("kappa_fixed_micro"))
      kT.crossJoin(kF) // 1 row x 1 row
        .withColumn("gain_micro", col("kappa_trained_micro") - col("kappa_fixed_micro"))
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.doc_id", "feat, w8_ w")}
        |), jj AS (
        |  SELECT g.keep AS y,
        |    CASE WHEN p.p_micro > 500000 THEN 1 ELSE 0 END AS kt,
        |    CASE WHEN s.logit_micro > 0 THEN 1 ELSE 0 END AS kf
        |  FROM gop g JOIN p ON p.doc_id = g.doc_id JOIN scored s ON s.doc_id = g.doc_id
        |), cells AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CASE WHEN kt = 1 AND y = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS t11,
        |    CAST(sum(CASE WHEN kt = 1 AND y = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS t10,
        |    CAST(sum(CASE WHEN kt = 0 AND y = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS t01,
        |    CAST(sum(CASE WHEN kt = 0 AND y = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS t00,
        |    CAST(sum(CASE WHEN kf = 1 AND y = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS f11,
        |    CAST(sum(CASE WHEN kf = 1 AND y = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS f10,
        |    CAST(sum(CASE WHEN kf = 0 AND y = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS f01,
        |    CAST(sum(CASE WHEN kf = 0 AND y = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS f00
        |  FROM jj
        |), q AS (
        |  SELECT
        |    n * (t11 + t00) - ((t11 + t10) * (t11 + t01) + (t00 + t01) * (t00 + t10)) AS tknum,
        |    n * n - ((t11 + t10) * (t11 + t01) + (t00 + t01) * (t00 + t10)) AS tkden,
        |    n * (f11 + f00) - ((f11 + f10) * (f11 + f01) + (f00 + f01) * (f00 + f10)) AS fknum,
        |    n * n - ((f11 + f10) * (f11 + f01) + (f00 + f01) * (f00 + f10)) AS fkden
        |  FROM cells
        |), kk AS (
        |  SELECT
        |    CAST(CASE WHEN tkden > 0 THEN (2000000 * tknum + tkden
        |      - (((2000000 * tknum + tkden) % (2 * tkden)) + 2 * tkden) % (2 * tkden)) // (2 * tkden)
        |      END AS BIGINT) AS kappa_trained_micro,
        |    CAST(CASE WHEN fkden > 0 THEN (2000000 * fknum + fkden
        |      - (((2000000 * fknum + fkden) % (2 * fkden)) + 2 * fkden) % (2 * fkden)) // (2 * fkden)
        |      END AS BIGINT) AS kappa_fixed_micro
        |  FROM q
        |)
        |SELECT kappa_trained_micro, kappa_fixed_micro,
        |  kappa_trained_micro - kappa_fixed_micro AS gain_micro
        |FROM kk""".stripMargin),
    Query("quality_trained_auc") { (s, dir) =>
      // Threshold-free eval of the trained quality scorer vs its Gopher
      // teacher: exact midrank ROC-AUC via the Mann-Whitney rank-sum
      // identity. The kappa rows grade ONE operating point; this row
      // grades the whole ranking, so it is the number to read before
      // moving the keep threshold (ops/Contingency.scala).
      val docs = table(s, dir, "documents")
      val (feat, traj) = graft.ops.QualityTrainer.trainedState(docs, iters = 8)
      val w = traj.last
      graft.ops.Contingency.rocAuc(
        graft.ops.QualityTrainer.score(feat, w)
          .join(feat.select(col("doc_id"), col("y").cast("int").as("label")), Seq("doc_id"))
          .select(col("label"), col("p_micro")),
        "label", "p_micro")
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.y", "feat, w8_ w")}
        |), cnt AS (
        |  SELECT p_micro,
        |    CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM p GROUP BY 1
        |), cum AS (
        |  SELECT c0, c1, sum(c0 + c1) OVER (ORDER BY p_micro) AS cum_all
        |  FROM cnt
        |), agg AS (
        |  SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c0) AS HUGEINT) AS n0,
        |    CAST(sum(CAST(c1 AS HUGEINT) *
        |      (2*(cum_all - (c0 + c1)) + (c0 + c1) + 1)) AS HUGEINT) AS r1x2
        |  FROM cum
        |)
        |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
        |  CAST(r1x2 - n1*(n1+1) AS BIGINT) AS u2_pos,
        |  CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN
        |    (20000*(r1x2 - n1*(n1+1)) + 2*n1*n0) // (4*n1*n0) END AS BIGINT) AS auc_bps
        |FROM agg""".stripMargin),
    Query("quality_cv_auc") { (s, dir) =>
      // PROPER eval of the in-engine trainer: 5-fold cross-validated
      // midrank AUC — five fold models trained through ONE shared
      // gradient loop (trainMany: 8 aggregations total, not 40), each
      // scored ONLY on its held-out fold, all five evaluated through ONE
      // grouped window pass (rocAucBy). Results bit-identical to five
      // independent GD chains + rocAuc calls
      // (ops/QualityTrainer, ops/Contingency).
      graft.ops.QualityTrainer.cvFoldAucs(table(s, dir, "documents"), folds = 5, iters = 8)
    }.oracle(qualityCvAucOracle(8, 5)),
    Query("source_ablation_aucs") { (s, dir) =>
      // Data valuation by provenance: leave-one-source-out retrains
      // (src0..src4) vs the full model, all through ONE shared trainMany
      // loop, every model scored on the same full corpus — positive drop
      // = the source teaches the model, negative = it misleads
      // (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.sourceAblationAucs(
        table(s, dir, "documents"),
        sources = Seq("src0", "src1", "src2", "src3", "src4"), iters = 8)
    }.oracle(
      sourceAblationOracle(8, Seq("src0", "src1", "src2", "src3", "src4"))),
    Query("gate_parity_report") { (s, dir) =>
      // Equalized-odds audit: per-source TPR/FPR of the one global
      // trained threshold against the Gopher teacher — the error-rate
      // parity row keep-share parity can't see. One scored pass, one
      // sources-row aggregate (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.gateParityReport(table(s, dir, "documents"), iters = 8)
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, sc AS (
        |  SELECT feat.doc_id, feat.y,
        |    CASE WHEN CAST(floor((w.w0*feat.x0 + w.w1*feat.x1 + w.w2*feat.x2
        |        + w.w3*feat.x3 + w.w4*feat.x4) / 1000000.0) AS BIGINT) > 500000
        |      THEN 1 ELSE 0 END AS kt
        |  FROM feat, w8_ w
        |), j AS (
        |  SELECT d.source, sc.y, sc.kt FROM sc JOIN documents d ON d.doc_id = sc.doc_id
        |), c AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN kt = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN kt = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN kt = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN kt = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM j GROUP BY 1
        |)
        |SELECT source, tp, fp, fn, tn,
        |  CASE WHEN tp + fn > 0
        |    THEN CAST((2 * 10000 * tp + (tp + fn)) // (2 * (tp + fn)) AS INT) END AS tpr_bps,
        |  CASE WHEN fp + tn > 0
        |    THEN CAST((2 * 10000 * fp + (fp + tn)) // (2 * (fp + tn)) AS INT) END AS fpr_bps
        |FROM c""".stripMargin),
    Query("uncertainty_sample") { (s, dir) =>
      // Active-learning queue: 10 docs per source nearest the trained
      // decision boundary — where a human label buys the most model;
      // per-source partitioned window, deterministic doc_id tie-break
      // (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.uncertaintySample(table(s, dir, "documents"), iters = 8)
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.doc_id", "feat, w8_ w")}
        |), q AS (
        |  SELECT d.source, p.doc_id, p.p_micro,
        |    abs(p.p_micro - 500000) AS dist_micro
        |  FROM p JOIN documents d ON d.doc_id = p.doc_id
        |)
        |SELECT source, CAST(rnk AS INT) AS rank, doc_id, p_micro, dist_micro FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY dist_micro, doc_id) AS rnk FROM q)
        |WHERE rnk <= 10""".stripMargin),
    Query("quality_ablation_aucs") { (s, dir) =>
      // Leave-one-feature-out ablation: retrain with each feature zeroed,
      // report AUC and the drop vs the full model — which signal carries
      // the ranking. 6 bounded GD chains over one checkpointed feature
      // scan (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.featureAblationAucs(table(s, dir, "documents"), iters = 8)
    }.oracle(qualityAblationOracle(8)),
    Query("label_noise_matrix") { (s, dir) =>
      // Confident-learning label-noise audit (Northcutt et al. JAIR'21):
      // out-of-fold trained scores vs the Gopher labels they were trained
      // on — the confident joint matrix whose off-diagonals estimate the
      // label-error rate. Score-scale thresholds, cross-multiplied integer
      // compares; one feature scan + 5 bounded GD chains
      // (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.labelNoiseMatrix(table(s, dir, "documents"), iters = 8)
    }.oracle(labelNoiseOracle(8, 5)),
    Query("quality_pr_curve") { (s, dir) =>
      // The operating-point table the AUC integrates over: precision /
      // recall / F1 of the trained gate vs its teacher at nine
      // thresholds, each an exact rational in bps. ONE pass computes all
      // 27 conditional sums (map-side partials); stack unpivots the
      // single row — no 9x corpus crossJoin.
      import graft.functions.ExactDecimal.scaledRatio
      val docs = table(s, dir, "documents")
      val (feat, traj) = graft.ops.QualityTrainer.trainedState(docs, iters = 8)
      val w = traj.last
      val scored = graft.ops.QualityTrainer.score(feat, w)
        .join(feat.select(col("doc_id"), col("y")), Seq("doc_id"))
      val aggs = (1 to 9).flatMap { i =>
        val t = i * 100000L
        Seq(
          sum(when(col("p_micro") > t && col("y") === 1L, 1L).otherwise(0L)).as(s"tp$i"),
          sum(when(col("p_micro") > t && col("y") === 0L, 1L).otherwise(0L)).as(s"fp$i"),
          sum(when(col("p_micro") <= t && col("y") === 1L, 1L).otherwise(0L)).as(s"fn$i"))
      }
      val stackArgs = (1 to 9)
        .map(i => s"${i * 100000L}L, tp$i, fp$i, fn$i").mkString(", ")
      scored.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(9, $stackArgs) AS (threshold_micro, tp, fp, fn)"))
        .select(
          col("threshold_micro"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            scaledRatio(col("tp"), col("tp") + col("fp"), 10000L))
            .cast("long").as("precision_bps"),
          when(col("tp") + col("fn") > 0,
            scaledRatio(col("tp"), col("tp") + col("fn"), 10000L))
            .cast("long").as("recall_bps"),
          when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            scaledRatio(lit(2L) * col("tp"), lit(2L) * col("tp") + col("fp") + col("fn"), 10000L))
            .cast("long").as("f1_bps"))
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.y", "feat, w8_ w")}
        |), th AS (SELECT unnest(range(1, 10)) * 100000 AS t),
        |c AS (
        |  SELECT th.t AS threshold_micro,
        |    CAST(sum(CASE WHEN p.p_micro > th.t AND p.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN p.p_micro > th.t AND p.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN p.p_micro <= th.t AND p.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM p, th GROUP BY 1
        |)
        |SELECT threshold_micro, tp, fp, fn,
        |  CAST(CASE WHEN tp + fp > 0 THEN (20000 * tp + (tp + fp)) // (2 * (tp + fp))
        |    END AS BIGINT) AS precision_bps,
        |  CAST(CASE WHEN tp + fn > 0 THEN (20000 * tp + (tp + fn)) // (2 * (tp + fn))
        |    END AS BIGINT) AS recall_bps,
        |  CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN
        |    (20000 * 2 * tp + (2 * tp + fp + fn)) // (2 * (2 * tp + fp + fn))
        |    END AS BIGINT) AS f1_bps
        |FROM c""".stripMargin),
    Query("quality_trained_brier") { (s, dir) =>
      // The third leg of the trained-model eval triad: Brier score
      // (mean squared probability error) in exact micro units — AUC
      // grades the ORDERING, the calibration bins the SHAPE, Brier the
      // overall probability accuracy in one number. Σ(p−y)² is an exact
      // integer aggregation; one round-half-up close.
      import graft.functions.ExactDecimal.{d, scaledRatio, Dec}
      val docs = table(s, dir, "documents")
      val (feat, traj) = graft.ops.QualityTrainer.trainedState(docs, iters = 8)
      val w = traj.last
      graft.ops.QualityTrainer.score(feat, w)
        .join(feat.select(col("doc_id"), col("y")), Seq("doc_id"))
        .select((col("p_micro") - col("y") * 1000000L).as("e"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(d(col("e")) * d(col("e"))).as("ss"))
        .select(
          col("n_docs"),
          col("ss").cast("long").as("sum_sq_err"),
          scaledRatio(col("ss"), d(col("n_docs")) * d(lit(1000000L)), 1L)
            .cast("long").as("brier_micro"))
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.y", "feat, w8_ w")}
        |), e AS (
        |  SELECT CAST(p_micro - y * 1000000 AS HUGEINT) AS e FROM p
        |), a AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(e * e) AS ss FROM e
        |)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(ss AS BIGINT) AS sum_sq_err,
        |  CAST((2 * ss + n * 1000000) // (2 * n * 1000000) AS BIGINT) AS brier_micro
        |FROM a""".stripMargin),
    Query("quality_trained_by_lang") { (s, dir) =>
      // The CCNet recipe: one trained quality model PER LANGUAGE (cheap-
      // feature statistics aren't transferable across languages). Each GD
      // iteration is one groupBy aggregation (5 gradient sums per lang);
      // driver holds |langs|x5 longs. Full per-group trajectory under the
      // replay oracle (ops/QualityTrainer.scala).
      // Optimization r16: rides the shared per-language training run
      // (also graded by quality_trained_auc_by_lang).
      graft.ops.QualityTrainer
        .groupWeightTrajectoryDfFrom(s, sharedLangTrained(s, dir)._2)
    }.oracle(qualityTrainedGroupOracle(3)),
    Query("quality_trained_auc_by_lang") { (s, dir) =>
      // The eval the CCNet-style per-language models were missing: one
      // exact midrank ROC-AUC row per language, each model graded against
      // its own language's Gopher teacher — where a per-lang model
      // under-orders, that lang's gate needs its own features, not just
      // its own weights. Group-partitioned rank sums over the score-
      // vocabulary frame (ops/Contingency.rocAucBy).
      // Optimization r16: feature frame + per-language training run ride
      // the shared build (also read by quality_trained_by_lang).
      val (feat, traj) = sharedLangTrained(s, dir)
      val w = traj.map { case (g, t) => g -> t.last }
      graft.ops.Contingency.rocAucBy(
        graft.ops.QualityTrainer.scoreGrouped(feat, w)
          .select(col("grp").as("lang"), col("y").cast("int").as("label"), col("p_micro")),
        "lang", "label", "p_micro")
    }.oracle(
      s"""${qualityTrainedGroupCtes(3)}, ${pMicroCte("p", "feat.grp, feat.y", "feat JOIN w3_ w ON w.grp = feat.grp")}
        |), cnt AS (
        |  SELECT grp, p_micro,
        |    CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM p GROUP BY 1, 2
        |), cum AS (
        |  SELECT grp, c0, c1,
        |    sum(c0 + c1) OVER (PARTITION BY grp ORDER BY p_micro) AS cum_all
        |  FROM cnt
        |), agg AS (
        |  SELECT grp, CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c0) AS HUGEINT) AS n0,
        |    CAST(sum(CAST(c1 AS HUGEINT) *
        |      (2*(cum_all - (c0 + c1)) + (c0 + c1) + 1)) AS HUGEINT) AS r1x2
        |  FROM cum GROUP BY 1
        |)
        |SELECT grp AS lang, CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
        |  CAST(r1x2 - n1*(n1+1) AS BIGINT) AS u2_pos,
        |  CAST(CASE WHEN n1 > 0 AND n0 > 0 THEN
        |    (20000*(r1x2 - n1*(n1+1)) + 2*n1*n0) // (4*n1*n0) END AS BIGINT) AS auc_bps
        |FROM agg""".stripMargin),
    Query("quality_calibration_bins") { (s, dir) =>
      // Reliability diagram of the trained scorer vs its Gopher teacher:
      // 10 equal-width probability bins, per-bin teacher-positive rate
      // (exact bps) vs mean predicted probability (micro) — the
      // calibration read a pipeline does before trusting a trained gate's
      // threshold (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.calibrationBins(table(s, dir, "documents"), iters = 8)
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.y", "feat, w8_ w")}
        |), b AS (
        |  SELECT CAST(floor(least(greatest(p_micro, 0), 999999) / 100000.0) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(sum(p_micro) AS BIGINT) AS sum_p
        |  FROM p GROUP BY 1
        |)
        |SELECT bin, n_docs, n_pos,
        |  CAST(floor((20000*n_pos + n_docs) / (2.0*n_docs)) AS BIGINT) AS pos_rate_bps,
        |  CAST(floor((2*sum_p + n_docs) / (2.0*n_docs)) AS BIGINT) AS mean_p_micro
        |FROM b""".stripMargin),
    Query("ece_holdout_isotonic") { (s, dir) =>
      // Does the isotonic fix actually generalize? Fit on even doc_ids,
      // evaluate ECE on odd: raw model confidence vs the calibrated
      // mapping, both over the covered holdout mass — the in-sample
      // version would be circular (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.holdoutCalibrationEval(table(s, dir, "documents"), iters = 8)
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("sc", "feat.doc_id, feat.y", "feat, w8_ w")}
        |), sb AS (
        |  SELECT doc_id, y, p_micro,
        |    CAST(floor(least(greatest(p_micro, 0), 999999) / 10000.0) AS INT) AS bin
        |  FROM sc
        |), fitc AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM sb WHERE doc_id % 2 = 0 GROUP BY 1
        |), pf2 AS (
        |  SELECT a.bin, a.n_docs, a.n_pos,
        |    CAST(sum(b.n_docs) AS BIGINT) AS cum_n, CAST(sum(b.n_pos) AS BIGINT) AS cum_p
        |  FROM fitc a JOIN fitc b ON b.bin <= a.bin GROUP BY 1, 2, 3
        |), pairs2 AS (
        |  SELECT j.bin AS jbin, k.bin AS kbin,
        |    (2 * 1000000 * (k.cum_p - (j.cum_p - j.n_pos))
        |       + (k.cum_n - (j.cum_n - j.n_docs)))
        |      // (2 * (k.cum_n - (j.cum_n - j.n_docs))) AS avg_micro
        |  FROM pf2 j JOIN pf2 k ON j.bin <= k.bin
        |), mi2 AS (
        |  SELECT i.bin AS ibin, p2.jbin, min(p2.avg_micro) AS m
        |  FROM pairs2 p2 JOIN fitc i ON p2.jbin <= i.bin AND i.bin <= p2.kbin
        |  GROUP BY 1, 2
        |), iso2 AS (
        |  SELECT ibin AS bin, CAST(max(m) AS BIGINT) AS iso_rate_micro FROM mi2 GROUP BY 1
        |), ec AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n_e, CAST(sum(y) AS BIGINT) AS pos_e,
        |    CAST(sum(p_micro) AS BIGINT) AS sum_p_e
        |  FROM sb WHERE doc_id % 2 = 1 GROUP BY 1
        |), tot AS (SELECT CAST(sum(n_e) AS BIGINT) AS n_eval FROM ec),
        |cov AS (
        |  SELECT ec.n_e,
        |    abs(1000000 * ec.pos_e - ec.sum_p_e) AS ar,
        |    abs(1000000 * ec.pos_e - ec.n_e * i2.iso_rate_micro) AS ai
        |  FROM ec JOIN iso2 i2 ON i2.bin = ec.bin
        |), ag AS (
        |  SELECT CAST(sum(n_e) AS BIGINT) AS n_covered,
        |    CAST(sum(ar) AS HUGEINT) AS sr, CAST(sum(ai) AS HUGEINT) AS si
        |  FROM cov
        |)
        |SELECT t.n_eval, a.n_covered,
        |  CAST((2 * a.sr + a.n_covered) // (2 * a.n_covered) AS BIGINT) AS ece_raw_micro,
        |  CAST((2 * a.si + a.n_covered) // (2 * a.n_covered) AS BIGINT) AS ece_iso_micro
        |FROM ag a, tot t""".stripMargin),
    Query("quality_isotonic_calibration") { (s, dir) =>
      // The fix for the reliability gap calibration_summary reports:
      // monotone recalibration of the 100-bin accuracy curve via the
      // max-min closed form of PAV — distributes as three bins-bounded
      // joins (no sequential merge loop, no window), replays in SQL
      // (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.isotonicCalibration(table(s, dir, "documents"), iters = 8)
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.y", "feat, w8_ w")}
        |), c AS (
        |  SELECT CAST(floor(least(greatest(p_micro, 0), 999999) / 10000.0) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM p GROUP BY 1
        |), pf AS (
        |  SELECT a.bin, a.n_docs, a.n_pos,
        |    CAST(sum(b.n_docs) AS BIGINT) AS cum_n, CAST(sum(b.n_pos) AS BIGINT) AS cum_p
        |  FROM c a JOIN c b ON b.bin <= a.bin GROUP BY 1, 2, 3
        |), pairs AS (
        |  SELECT j.bin AS jbin, k.bin AS kbin,
        |    (2 * 1000000 * (k.cum_p - (j.cum_p - j.n_pos))
        |       + (k.cum_n - (j.cum_n - j.n_docs)))
        |      // (2 * (k.cum_n - (j.cum_n - j.n_docs))) AS avg_micro
        |  FROM pf j JOIN pf k ON j.bin <= k.bin
        |), mi AS (
        |  SELECT i.bin AS ibin, p2.jbin, min(p2.avg_micro) AS m
        |  FROM pairs p2 JOIN c i ON p2.jbin <= i.bin AND i.bin <= p2.kbin
        |  GROUP BY 1, 2
        |), iso AS (
        |  SELECT ibin AS bin, CAST(max(m) AS BIGINT) AS iso_rate_micro FROM mi GROUP BY 1
        |)
        |SELECT c.bin, c.n_docs, c.n_pos,
        |  CAST((2 * 1000000 * c.n_pos + c.n_docs) // (2 * c.n_docs) AS BIGINT)
        |    AS raw_rate_micro,
        |  iso.iso_rate_micro
        |FROM c JOIN iso ON iso.bin = c.bin""".stripMargin),
    Query("calibration_summary") { (s, dir) =>
      // The reliability diagram folded to decision scalars: ECE (the
      // weighted acc-conf gap telescopes to ONE exact rational) plus the
      // Murphy decomposition of the binned Brier — reliability /
      // resolution / uncertainty, each a micro-rounded exact rational
      // over per-bin half-up terms (ops/QualityTrainer.scala).
      graft.ops.QualityTrainer.calibrationSummary(table(s, dir, "documents"), iters = 8)
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.y", "feat, w8_ w")}
        |), b AS (
        |  SELECT CAST(floor(least(greatest(p_micro, 0), 999999) / 100000.0) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(sum(p_micro) AS BIGINT) AS sum_p
        |  FROM p GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n_docs) AS HUGEINT) AS n, CAST(sum(n_pos) AS HUGEINT) AS p FROM b
        |), terms AS (
        |  SELECT t.n, t.p,
        |    abs(1000000 * b.n_pos - b.sum_p) AS ae,
        |    (2 * (CAST(b.sum_p AS HUGEINT) - 1000000 * b.n_pos)
        |       * (CAST(b.sum_p AS HUGEINT) - 1000000 * b.n_pos) + b.n_docs)
        |      // (2 * b.n_docs) AS vrel,
        |    (2 * (t.n * b.n_pos - b.n_docs * t.p) * (t.n * b.n_pos - b.n_docs * t.p) + b.n_docs)
        |      // (2 * b.n_docs) AS vres
        |  FROM b, tot t
        |), s AS (
        |  SELECT n, p, CAST(sum(ae) AS HUGEINT) AS se,
        |    CAST(sum(vrel) AS HUGEINT) AS sr, CAST(sum(vres) AS HUGEINT) AS ss
        |  FROM terms GROUP BY 1, 2
        |)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(p AS BIGINT) AS n_pos,
        |  CAST((2 * se + n) // (2 * n) AS BIGINT) AS ece_micro,
        |  CAST((2 * sr + n * 1000000) // (2 * n * 1000000) AS BIGINT) AS reliability_micro,
        |  CAST((2 * 1000000 * ss + n * n * n) // (2 * n * n * n) AS BIGINT) AS resolution_micro,
        |  CAST((2 * 1000000 * p * (n - p) + n * n) // (2 * n * n) AS BIGINT) AS uncertainty_micro
        |FROM s""".stripMargin),
    Query("quality_trained_agreement") { (s, dir) =>
      // Does the TRAINED gate make the same calls as the shipped
      // fixed-weight gate? Confusion cells + exact-rational Cohen's kappa
      // — the replace-the-heuristic-with-the-model decision row.
      val docs = table(s, dir, "documents")
      val trained = graft.ops.QualityTrainer.trainAndScore(docs, iters = 8)
        .select(col("doc_id"), col("keep_trained"))
      val fixedK = docs.select(
        col("doc_id"),
        (TextAnalysis.qualityLogit(col("text"), length(col("text"))) > 0)
          .cast("int").as("keep_fixed"))
      graft.ops.Contingency
        .agreementKappa(trained.join(fixedK, "doc_id"), "keep_trained", "keep_fixed")
    }.oracle(
      s"""WITH ${qualityTrainedCtes(8)}, ${pMicroCte("p", "feat.doc_id", "feat, w8_ w")}
        |), j AS (
        |  SELECT CASE WHEN p.p_micro > 500000 THEN 1 ELSE 0 END AS ka,
        |    CASE WHEN s.logit_micro > 0 THEN 1 ELSE 0 END AS kb
        |  FROM p JOIN scored s ON s.doc_id = p.doc_id
        |), ${agreementKappaTail("cells", "ka", "kb")}""".stripMargin),
    Query("quality_percentiles") { (s, dir) =>
      // Percentile-rank normalization of the quality logit: each doc's
      // corpus percentile in exact bps — threshold-free calibration
      // ("keep the top 40%" instead of "logit > 0"). Rank via the
      // distributed range-sort primitive (ops/Ranking.scala), never an
      // unpartitioned window; the doc-count branch is a column-pruned
      // row-count scan.
      val scored = table(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityLogit(col("text"), length(col("text"))).as("logit_micro"))
      val ranked = graft.ops.Ranking.globalRowNumber(
        scored, Seq(col("logit_micro").asc, col("doc_id").asc), "rk")
      val n = scored.agg(count(lit(1)).as("n_docs"))
      ranked
        .crossJoin(broadcast(n))
        .select(
          col("doc_id"),
          col("logit_micro"),
          when(col("n_docs") > 1,
            graft.functions.ExactDecimal
              .scaledRatio(col("rk") - 1L, col("n_docs") - 1L, 10000L))
            .otherwise(0L)
            .cast("long")
            .as("pct_bps"))
    }.oracle(
      s"""WITH $QualityLogitCtes, r AS (
        |  SELECT doc_id, logit_micro,
        |    CAST(row_number() OVER (ORDER BY logit_micro, doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM scored
        |)
        |SELECT doc_id, logit_micro,
        |  CAST(CASE WHEN n > 1 THEN (20000 * (rk - 1) + (n - 1)) // (2 * (n - 1))
        |    ELSE 0 END AS BIGINT) AS pct_bps
        |FROM r""".stripMargin),
    Query("filter_agreement_kappa") { (s, dir) =>
      // Cohen's kappa between the Gopher gate and the cheap logit gate —
      // "can the cheap filter replace the expensive one": raw agreement
      // minus the chance-agreement floor, one exact rational. Both gates
      // are computed in the SAME corpus scan (the logit keep rides
      // gopherRules' carryCols), then one single-row aggregation
      // (ops/Contingency.scala).
      val withQ = table(s, dir, "documents").withColumn(
        "keep_q",
        (TextAnalysis.qualityLogit(col("text"), length(col("text"))) > 0).cast("int"))
      val gates = TextAnalysis
        .gopherRules(withQ, "text", carryCols = Seq("keep_q"))
        .select(col("keep").as("keep_g"), col("keep_q"))
      graft.ops.Contingency.agreementKappa(gates, "keep_g", "keep_q")
    }.oracle(
      s"""WITH $GopherRulesCtes, $QualityLogitCtes, j AS (
        |  SELECT g.keep AS keep_g,
        |    CASE WHEN s.logit_micro > 0 THEN 1 ELSE 0 END AS keep_q
        |  FROM gop g JOIN scored s ON s.doc_id = g.doc_id
        |), ${agreementKappaTail("cells", "keep_g", "keep_q")}""".stripMargin),
    Query("quality_rank_fusion") { (s, dir) =>
      // Ensemble two incomparable quality signals (heuristic score,
      // bigram-LM likelihood) by Borda rank sum — rank normalization
      // needs no calibration, and each leg's rank is a distributed
      // range-sort (Ranking.globalRowNumber), never a global window.
      // Docs too short for the LM leg (<2 tokens) drop via the inner
      // join — a doc must carry both signals to be fused.
      val docs = table(s, dir, "documents")
      val qr = graft.ops.Ranking
        .globalRowNumber(
          docs.select(
            col("doc_id"),
            TextAnalysis.qualityScore(col("text"), length(col("text"))).as("quality")),
          Seq(col("quality").desc, col("doc_id").asc),
          rankCol = "r_quality")
        .select(col("doc_id"), col("r_quality"))
      val lr = graft.ops.Ranking
        .globalRowNumber(
          sharedLmSelfScore(s, dir) // optimization r15: shared LM build
            .select(col("doc_id"), col("avg_lp_micro")),
          Seq(col("avg_lp_micro").desc, col("doc_id").asc),
          rankCol = "r_lm")
        .select(col("doc_id"), col("r_lm"))
      qr.join(lr, "doc_id")
        .select(
          col("doc_id"), col("r_quality"), col("r_lm"),
          (col("r_quality") + col("r_lm")).as("borda"))
    }.oracle(
      s"""WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> list_contains(['the','and','of','to','in','is'], t))) AS INT) AS n_stop
        |  FROM documents
        |), q AS (
        |  SELECT doc_id,
        |    round((least(n_tokens, 100) / 100.0) * 0.4
        |        + least(n_stop * 4.0 / greatest(n_tokens, 1), 1.0) * 0.3
        |        + (1.0 - least(n_punct * 10.0 / greatest(n_chars, 1), 1.0)) * 0.3, 4) AS quality
        |  FROM f
        |), qr AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS r_quality
        |  FROM q
        |), $BigramLmCtes
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lp) AS BIGINT) AS lp_sum_micro
        |  FROM scored GROUP BY 1
        |), lr AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY
        |    floor(CAST(lp_sum_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE) + 0.5e0) DESC,
        |    doc_id) AS BIGINT) AS r_lm
        |  FROM agg
        |)
        |SELECT doc_id, r_quality, r_lm, r_quality + r_lm AS borda
        |FROM qr JOIN lr USING (doc_id)""".stripMargin)
  )
}
