package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ExactDecimal._

/** Pearson chi-square contingency analysis — the A/B-cohort independence
  * test an event pipeline runs to answer "did the treatment cohort's
  * event-type mix actually shift?". Per-cell terms are emitted (not just
  * the statistic) so downstream can see WHICH cell drives the signal.
  *
  * Exactness: each cell's term `(O·N − R·C)² / (N·R·C)` and expectation
  * `R·C / N` are exact integer rationals over the observed counts,
  * micro-rounded with [[graft.functions.ExactDecimal]] — both engines
  * agree bit-for-bit, no float intermediate. The chi-square statistic is
  * the plain sum of the per-cell `term_micro`s (each side sums identical
  * integers).
  *
  * Scale shape: ONE hash aggregation over the raw frame produces the R×C
  * cell frame; everything after runs on that tiny frame (checkpointed so
  * the three marginal aggregations don't each re-scan the corpus) with
  * broadcast joins only. DECIMAL(38,0) holds `(O·N)²·10⁶` for N up to
  * ~10¹⁵ rows; beyond that, divide O, R, C, N by a common power of ten
  * first (the statistic is scale-invariant in distribution shape but not
  * in magnitude — at that size you are testing effect size, not
  * significance, anyway).
  */
object Contingency {

  /** Per-cell chi-square decomposition of `rowCol` × `colCol`.
    *
    * Output: (rowCol, colCol, observed, expected_micro, term_micro) —
    * one row per observed cell. dof = (R−1)(C−1) is derivable from the
    * distinct counts; cells with zero observations contribute no row
    * (and would need the full cross of marginals to materialize — by
    * design the synthetic-zero cells' terms are `R·C/N` each, documented
    * rather than emitted).
    */
  def chiSquareCells(
      df: DataFrame,
      rowCol: String,
      colCol: String
  ): DataFrame = {
    // One corpus-wide aggregation; the checkpoint pins the R×C result so
    // the marginals and total re-aggregate ≤ R·C rows, not the corpus.
    val cells = df
      .groupBy(col(rowCol), col(colCol))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint(eager = true)
    val rowT = cells.groupBy(col(rowCol)).agg(sum(col("o")).as("r"))
    val colT = cells.groupBy(col(colCol)).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val dev = d(col("o")) * d(col("n")) - d(col("r")) * d(col("c"))
    cells
      .join(broadcast(rowT), rowCol)
      .join(broadcast(colT), colCol)
      .crossJoin(broadcast(tot))
      .select(
        col(rowCol),
        col(colCol),
        col("o").cast("long").as("observed"),
        scaledRatio(d(col("r")) * d(col("c")), d(col("n")))
          .cast("long")
          .as("expected_micro"),
        scaledRatio(dev * dev, d(col("n")) * d(col("r")) * d(col("c")))
          .cast("long")
          .as("term_micro"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic, EXACT: the numeric-column
    * counterpart to [[chiSquareCells]] — "did the treatment cohort's
    * value DISTRIBUTION shift?", answered as D = sup|F₀ − F₁| with no
    * float anywhere. At every distinct value v (the only places the sup
    * can occur), `|cum₀·n₁ − cum₁·n₀|` is an exact integer; the max picks
    * the winner, one exact-rational micro division at the end.
    *
    * Scale shape: one hash aggregation to the distinct-value frame, the
    * distributed CDF via [[Ranking.runningTotals]] (range-partitioned
    * prefix sums — no unpartitioned window), then a TakeOrdered(1). The
    * raw frame is scanned once.
    *
    * @param df       rows with an integer group column (0/1) and an
    *                 integer-valued measure (pre-quantized by the caller)
    * @return one row: (n0, n1, d_micro, at_value) — at_value is the
    *         smallest value attaining the sup (deterministic tie-break)
    */
  def ksTwoSample(
      df: DataFrame,
      groupCol: String,
      valueCol: String
  ): DataFrame = {
    val counts = df
      .groupBy(col(valueCol))
      .agg(
        sum(when(col(groupCol) === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col(groupCol) === 1, 1L).otherwise(0L)).as("c1"))
    val cum = Ranking.runningTotals(counts, Seq(col(valueCol).asc), Seq("c0", "c1"))
    val tot = cum.agg(sum(col("c0")).cast("long").as("n0"), sum(col("c1")).cast("long").as("n1"))
    cum
      .crossJoin(broadcast(tot))
      .select(
        col(valueCol),
        col("n0"),
        col("n1"),
        abs(d(col("cum_c0")) * d(col("n1")) - d(col("cum_c1")) * d(col("n0"))).as("num"))
      .orderBy(col("num").desc, col(valueCol).asc)
      .limit(1)
      .select(
        col("n0"),
        col("n1"),
        scaledRatio(col("num"), d(col("n0")) * d(col("n1"))).cast("long").as("d_micro"),
        col(valueCol).cast("long").as("at_value"))
  }

  /** Mann–Whitney U over two cohorts' value distributions — the
    * rank-based location test completing the A/B family (chi-square for
    * categories, KS for shape, bootstrap for means, U for medians without
    * a normality assumption).
    *
    * Everything is EXACT integer: ranks come from the distributed CDF
    * ([[Ranking.runningTotals]] over per-value counts — never a
    * single-task window), tied values take the midrank, and to keep
    * midranks integral the statistic is reported DOUBLED:
    * `u2_statistic = 2·U₀ = 2·R₀ − n₀(n₀+1)` with 2·rank of a tie group
    * `= 2·prev_cum + g + 1`. `mu2 = n₀·n₁ = 2·E[U]`, and the
    * tie-corrected variance closes as one exact rational:
    * `σ² = n₀n₁·((n+1)·n(n−1) − Σ(g³−g)) / (12·n(n−1))`, rounded
    * half-up to WHOLE units (`var_units`): σ² grows as n³, so integer
    * units already carry ~14 significant digits at n = 10⁵ and micro
    * units would overflow a long. A consumer derives
    * z = (u2 − mu2) / (2·√σ²). (At 100 TB counts the cubic products
    * ride DECIMAL(38,0) — already the working type here.)
    *
    * Shape: one (value) aggregation collapses the log to distinct-value
    * counts, the prefix-sum primitive ranks them with ≤ P driver longs,
    * one single-row aggregation closes. Frames after the first agg are
    * value-vocabulary sized.
    */
  def mannWhitney(
      df: DataFrame,
      groupCol: String,
      valueCol: String
  ): DataFrame = {
    val counts = df
      .groupBy(col(valueCol))
      .agg(
        sum(when(col(groupCol) === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col(groupCol) === 1, 1L).otherwise(0L)).as("c1"))
    val cum = Ranking.runningTotals(counts, Seq(col(valueCol).asc), Seq("c0", "c1"))
    val n = d(col("n0")) + d(col("n1"))
    cum
      .withColumn("g", col("c0") + col("c1"))
      .withColumn(
        "r2",
        lit(2L) * (col("cum_c0") + col("cum_c1") - col("g")) + col("g") + 1L)
      .agg(
        sum(col("c0")).cast("long").as("n0"),
        sum(col("c1")).cast("long").as("n1"),
        sum(d(col("c0")) * d(col("r2"))).as("r0x2"),
        sum(d(col("g")) * d(col("g")) * d(col("g")) - d(col("g"))).as("ties"))
      .select(
        col("n0"),
        col("n1"),
        (col("r0x2") - d(col("n0")) * (d(col("n0")) + d(lit(1L))))
          .cast("long")
          .as("u2_statistic"),
        (col("n0") * col("n1")).as("mu2"),
        when(
          n * (n - d(lit(1L))) > 0,
          scaledRatio(
            d(col("n0")) * d(col("n1")) *
              ((n + d(lit(1L))) * n * (n - d(lit(1L))) - col("ties")),
            lit(12L).cast(Dec) * n * (n - d(lit(1L))),
            1L))
          .cast("long")
          .as("var_units"))
  }

  /** Exact-midrank Spearman rank correlation between two integer-valued
    * columns — "do my two quality signals rank the corpus the same way",
    * the agreement question kappa (one operating point) and AUC (one
    * signal vs labels) don't answer. Ranks use the same DOUBLED-midrank
    * trick as [[rocAuc]] (r2 = 2·cum_before + c + 1, integral under
    * ties, scale cancels in the correlation); every sum runs in
    * DECIMAL(38,0); the single irrational step — the sqrt of each exact
    * variance term — is one correctly-rounded IEEE double per side,
    * micro-rounded once, so both engines agree deterministically
    * (the two variance terms take separate sqrts: their decimal PRODUCT
    * grows like 16n⁸ and would pass 10³⁸ at ~4·10⁴ rows,
    * while each separate term n·sxx − sx² grows like 4n⁴ — safe to
    * roughly 2·10⁹ rows, the real ceiling of this form; beyond that,
    * pre-scale the doubled ranks before the moment sums).
    *
    * Shape: two distinct-value CDF passes ([[Ranking.runningTotals]])
    * + two value-keyed rank joins + one aggregation. Constant columns
    * (zero variance) yield NULL rho.
    */
  def spearmanMicro(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def ranks2(c: String): DataFrame = {
      val counts = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      Ranking.runningTotals(counts, Seq(col(c).asc), Seq("cnt"))
        .select(
          col(c),
          (lit(2L) * (col("cum_cnt") - col("cnt")) + col("cnt") + 1L).as(s"r2_$c"))
    }
    val rx = col(s"r2_$xCol")
    val ry = col(s"r2_$yCol")
    df.select(col(xCol), col(yCol))
      .join(ranks2(xCol), Seq(xCol))
      .join(ranks2(yCol), Seq(yCol))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(d(rx)).as("sx"),
        sum(d(ry)).as("sy"),
        sum(d(rx) * d(ry)).as("sxy"),
        sum(d(rx) * d(rx)).as("sxx"),
        sum(d(ry) * d(ry)).as("syy"))
      .select(
        col("n"),
        {
          val num = d(col("n")) * col("sxy") - col("sx") * col("sy")
          val dx = d(col("n")) * col("sxx") - col("sx") * col("sx")
          val dy = d(col("n")) * col("syy") - col("sy") * col("sy")
          when(dx > 0 && dy > 0,
            floor(num.cast("double")
              / (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))) * lit(1e6) + lit(0.5))
              .cast("long"))
            .as("rho_micro")
        })
  }

  /** Exact ROC-AUC of a score column against a binary label by the
    * rank-sum identity (Hanley & McNeil 1982: AUC = U⁺/(n⁺·n⁻), the
    * Mann-Whitney equivalence) — the threshold-FREE classifier eval.
    * Kappa/agreement rows grade one operating point; this row asks
    * whether the score ORDERS positives above negatives across all of
    * them, which is what a pipeline tuning its keep threshold actually
    * needs to know.
    *
    * Same exactness discipline as [[mannWhitney]]: ranks come from the
    * distributed CDF over per-score counts (never a single-task window),
    * tied scores take the midrank via the doubled-rank trick
    * (2·rank of a tie group = 2·prev_cum + g + 1), and the single
    * division closes as one exact rational:
    * `auc_bps = round_half_up(10⁴ · U2⁺ / (2·n⁺·n⁻))` with
    * `U2⁺ = 2·R⁺ − n⁺(n⁺+1)`. Both engines agree bit-for-bit; a
    * degenerate label (no positives or no negatives) yields null.
    *
    * Shape: one (score) aggregation collapses the corpus to
    * distinct-score counts, [[Ranking.runningTotals]] ranks them with
    * ≤ P driver longs, one single-row aggregation closes — frames after
    * the first agg are score-vocabulary sized, so the 100 TB cost is the
    * one corpus scan.
    */
  def rocAuc(
      df: DataFrame,
      labelCol: String,
      scoreCol: String
  ): DataFrame = {
    val counts = df
      .groupBy(col(scoreCol))
      .agg(
        sum(when(col(labelCol) === 1, 0L).otherwise(1L)).as("c0"),
        sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("c1"))
    val cum = Ranking.runningTotals(counts, Seq(col(scoreCol).asc), Seq("c0", "c1"))
    val u2 = col("r1x2") - d(col("n_pos")) * (d(col("n_pos")) + d(lit(1L)))
    cum
      .withColumn("g", col("c0") + col("c1"))
      .withColumn(
        "r2",
        lit(2L) * (col("cum_c0") + col("cum_c1") - col("g")) + col("g") + 1L)
      .agg(
        sum(col("c1")).cast("long").as("n_pos"),
        sum(col("c0")).cast("long").as("n_neg"),
        sum(d(col("c1")) * d(col("r2"))).as("r1x2"))
      .select(
        col("n_pos"),
        col("n_neg"),
        u2.cast("long").as("u2_pos"),
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          scaledRatio(u2, lit(2L).cast(Dec) * d(col("n_pos")) * d(col("n_neg")), 10000L))
          .cast("long")
          .as("auc_bps"))
  }

  /** Adjusted Rand Index between two partitions of the same items
    * (Hubert & Arabie 1985) — the clustering-vs-ground-truth agreement
    * eval: chance-corrected pair counting, +1 = identical partitions,
    * ~0 = random assignment. With doubled pair counts
    * `S_ab = Σ n_ij(n_ij−1)`, `S_a = Σ a_i(a_i−1)`, `S_b = Σ b_j(b_j−1)`,
    * `N2 = n(n−1)`:
    * `ARI = (2·N2·S_ab − 2·S_a·S_b) / (N2·(S_a+S_b) − 2·S_a·S_b)` —
    * ONE exact rational in DECIMAL(38,0), micro-rounded once; degenerate
    * partitions (denominator 0: both sides one block, or all singletons)
    * yield null. (The S_a·S_b·N2 product grows as n⁴·n²: inside 38
    * digits to n ≈ 10⁶ items per comparison — beyond that, compare on a
    * stratified sample or divide all counts by a common factor first.)
    *
    * Shape: one aggregation to the A×B cell frame (checkpointed — the
    * two marginal aggregations re-key ≤ |A|·|B| rows, not the corpus),
    * three bounded closes. Nothing row-scale survives the first agg.
    */
  def adjustedRandIndex(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val sab = cells.agg(
      sum(d(col("c")) * (d(col("c")) - d(lit(1L)))).as("s_ab"),
      sum(col("c")).cast("long").as("n"))
    val sa = cells.groupBy(col(aCol)).agg(sum(col("c")).as("m"))
      .agg(sum(d(col("m")) * (d(col("m")) - d(lit(1L)))).as("s_a"))
    val sb = cells.groupBy(col(bCol)).agg(sum(col("c")).as("m"))
      .agg(sum(d(col("m")) * (d(col("m")) - d(lit(1L)))).as("s_b"))
    val n2 = d(col("n")) * (d(col("n")) - d(lit(1L)))
    val num = d(lit(2L)) * n2 * col("s_ab") - d(lit(2L)) * col("s_a") * col("s_b")
    val den = n2 * (col("s_a") + col("s_b")) - d(lit(2L)) * col("s_a") * col("s_b")
    sab.crossJoin(broadcast(sa)).crossJoin(broadcast(sb)) // 1x1x1 rows
      .select(
        col("n"),
        col("s_ab").cast("long").as("sum_pairs_cells2"),
        col("s_a").cast("long").as("sum_pairs_a2"),
        col("s_b").cast("long").as("sum_pairs_b2"),
        when(den > 0, scaledRatio(num, den)).cast("long").as("ari_micro"))
  }

  /** Per-group [[rocAuc]] — one AUC row per value of `groupCol` (the
    * per-language eval of the CCNet-style per-group models). Identical
    * exact-midrank algebra; the CDF runs in a group-PARTITIONED window
    * over the (group, score)-vocabulary COUNT frame — vocabulary-sized,
    * never row-scale, so the partitioned window is safe at any corpus
    * size (the per-group frames are what a single task must sort).
    */
  def rocAucBy(
      df: DataFrame,
      groupCol: String,
      labelCol: String,
      scoreCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .groupBy(col(groupCol), col(scoreCol))
      .agg(
        sum(when(col(labelCol) === 1, 0L).otherwise(1L)).as("c0"),
        sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("c1"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val u2 = col("r1x2") - d(col("n_pos")) * (d(col("n_pos")) + d(lit(1L)))
    counts
      .withColumn("g", col("c0") + col("c1"))
      .withColumn("cum", sum(col("g")).over(w))
      .withColumn("r2", lit(2L) * (col("cum") - col("g")) + col("g") + 1L)
      .groupBy(col(groupCol))
      .agg(
        sum(col("c1")).cast("long").as("n_pos"),
        sum(col("c0")).cast("long").as("n_neg"),
        sum(d(col("c1")) * d(col("r2"))).as("r1x2"))
      .select(
        col(groupCol),
        col("n_pos"),
        col("n_neg"),
        u2.cast("long").as("u2_pos"),
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          scaledRatio(u2, lit(2L).cast(Dec) * d(col("n_pos")) * d(col("n_neg")), 10000L))
          .cast("long")
          .as("auc_bps"))
  }

  /** Welch's t pieces over two cohorts — the unequal-variance mean test,
    * reported as exact integers plus one IEEE-deterministic t.
    *
    * `mean_diff_micro` and the standard-error square `se2_micro`
    * (= s₀²/n₀ + s₁²/n₁) are EXACT rationals of the integer sums/squares,
    * rounded once to micro units. `t_milli` is then derived from those
    * two already-rounded longs with division and sqrt ONLY — both
    * correctly-rounded IEEE operations (no libm transcendental), so the
    * double is bit-identical in any engine and needs no margin audit.
    *
    * Shape: ONE aggregation over the input (map-side partials, single row
    * out). Cohorts with fewer than two rows yield nulls rather than a
    * zero division. (The ΣX² products ride DECIMAL(38,0); at 100 TB the
    * same structure holds.)
    */
  def welchT(
      df: DataFrame,
      groupCol: String,
      valueCol: String
  ): DataFrame = {
    val v = d(col(valueCol))
    val agg = df.agg(
      sum(when(col(groupCol) === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col(groupCol) === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col(groupCol) === 0, v).otherwise(d(lit(0L)))).as("s0"),
      sum(when(col(groupCol) === 1, v).otherwise(d(lit(0L)))).as("s1"),
      sum(when(col(groupCol) === 0, v * v).otherwise(d(lit(0L)))).as("q0"),
      sum(when(col(groupCol) === 1, v * v).otherwise(d(lit(0L)))).as("q1"))
    val n0 = d(col("n0"))
    val n1 = d(col("n1"))
    val one = d(lit(1L))
    val seNum = (n0 * col("q0") - col("s0") * col("s0")) * n1 * n1 * (n1 - one) +
      (n1 * col("q1") - col("s1") * col("s1")) * n0 * n0 * (n0 - one)
    val seDen = n0 * n0 * (n0 - one) * n1 * n1 * (n1 - one)
    agg
      .select(
        col("n0"),
        col("n1"),
        when(col("n0") > 0 && col("n1") > 0,
          scaledRatio(col("s0") * n1 - col("s1") * n0, n0 * n1))
          .cast("long")
          .as("mean_diff_micro"),
        when(col("n0") > 1 && col("n1") > 1, scaledRatio(seNum, seDen))
          .cast("long")
          .as("se2_micro"))
      .withColumn(
        "t_milli",
        when(col("se2_micro") > 0,
          floor(
            col("mean_diff_micro").cast("double") /
              sqrt(col("se2_micro").cast("double") * lit(1e6)) * lit(1000.0) +
              lit(0.5)))
          .cast("long"))
  }

  /** Cohen's kappa agreement between two binary gates (0/1 columns on the
    * same rows) — "do these two filters make the same keep/drop calls
    * beyond chance". The calibration question a curation pipeline asks
    * before replacing an expensive gate with a cheap one: raw agreement
    * (`agree_bps`) overstates it when both gates mostly keep; kappa
    * discounts the chance-agreement floor.
    *
    * `κ = (p_o − p_e)/(1 − p_e)` with p_o = (n11+n00)/n and
    * p_e = (r1·c1 + r0·c0)/n², closed as ONE exact rational:
    * `κ_micro = round(10⁶·(n·(n11+n00) − (r1·c1+r0·c0)) / (n² − (r1·c1+r0·c0)))`
    * — all integer products inside DECIMAL(38,0), so the oracle agrees
    * bit-for-bit. Degenerate marginals (p_e = 1: both gates constant)
    * yield null kappa rather than 0/0.
    *
    * Shape: ONE aggregation over the input (map-side partials, single
    * row out) — the gates themselves are computed upstream, ideally in
    * the same scan (see the `filter_agreement_kappa` registration, which
    * carries the quality gate through [[TextAnalysis.gopherRules]] so the
    * corpus is read once).
    */
  def agreementKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val n = col("n_docs")
    val n11 = col("n_both_keep")
    val n10 = col("n_a_only")
    val n01 = col("n_b_only")
    val n00 = col("n_both_drop")
    val chance = (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10) // r1·c1 + r0·c0
    df
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col(aCol) === 1 && col(bCol) === 1, 1L).otherwise(0L)).as("n_both_keep"),
        sum(when(col(aCol) === 1 && col(bCol) === 0, 1L).otherwise(0L)).as("n_a_only"),
        sum(when(col(aCol) === 0 && col(bCol) === 1, 1L).otherwise(0L)).as("n_b_only"),
        sum(when(col(aCol) === 0 && col(bCol) === 0, 1L).otherwise(0L)).as("n_both_drop"))
      .select(
        col("n_docs"), col("n_both_keep"), col("n_a_only"),
        col("n_b_only"), col("n_both_drop"),
        scaledRatio(n11 + n00, n, 10000L).cast("long").as("agree_bps"),
        when(
          d(n) * d(n) - d(chance) > 0,
          scaledRatio(
            d(n) * (d(n11) + d(n00)) - d(chance),
            d(n) * d(n) - d(chance))
        ).cast("long").as("kappa_micro"))
  }

  /** CUPED variance reduction for the A/B family (Deng et al., WSDM'13):
    * adjust each unit's experiment-period metric y by its PRE-period
    * covariate x — yᵃᵈʲ = y − θ(x − x̄) with θ = cov(x,y)/var(x) pooled
    * across arms (the pre-period is assignment-independent, so pooling is
    * unbiased) — cutting metric variance by exactly ρ² while leaving the
    * treatment-effect estimate unbiased.
    *
    * Input: one row per unit (cohortCol, xCol, yCol), integer-valued
    * metrics. Output: one row per arm — n_users, raw and ADJUSTED mean
    * (micro), plus the pooled theta_micro and rho2_micro (the variance
    * reduction). Every intermediate is an exact DECIMAL(38,0) integer;
    * the adjusted mean divides ONCE as the exact rational
    * (sy_a·nvarx·n − ncov·(sx_a·n − sx·n_a)) / (n_a·nvarx·n), and
    * rho2_micro = round(theta_micro·ncov / nvary) — one documented
    * composed rounding, because ncov² at the micro scale can exceed even
    * 128-bit integer range while this form never does.
    *
    * Magnitude budget (DECIMAL(38,0) / HUGEINT): with cents-valued
    * per-unit sums ≤ 1e6 and ≤ 1e5 units, 2e6·sy_a·nvarx·n ≤ ~1e37 —
    * inside both engines' exact range with an order of margin.
    *
    * Shape: one aggregation over the per-unit frame for the pooled
    * moments (single row, broadcast), one groupBy for the arms — the
    * corpus-size work is whatever built the per-unit frame upstream.
    */
  def cupedSummary(
      perUnit: DataFrame,
      cohortCol: String = "cohort",
      xCol: String = "x",
      yCol: String = "y"
  ): DataFrame = {
    import graft.functions.ExactDecimal.{d, scaledRatio}
    val per = perUnit
      .select(col(cohortCol).as("cohort"), d(col(xCol)).as("x"), d(col(yCol)).as("y"))
      .localCheckpoint(eager = true) // pooled moments + per-arm sums share it
    val pooled = per
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        col("n"), col("sx"), col("sy"),
        (d(col("n")) * col("sxy") - col("sx") * col("sy")).as("ncov"),
        (d(col("n")) * col("sxx") - col("sx") * col("sx")).as("nvarx"),
        (d(col("n")) * col("syy") - col("sy") * col("sy")).as("nvary"))
      .select(
        col("n"), col("sx"), col("ncov"), col("nvarx"), col("nvary"),
        when(col("nvarx") > 0, scaledRatio(col("ncov"), col("nvarx")))
          .cast("long").as("theta_micro"))
      .select(
        col("*"),
        when(col("nvary") > 0,
          scaledRatio(d(col("theta_micro")) * col("ncov"), col("nvary"), 1L))
          .cast("long").as("rho2_micro"))
    per
      .groupBy(col("cohort"))
      .agg(
        count(lit(1)).cast("long").as("n_users"),
        sum(col("x")).as("sx_a"),
        sum(col("y")).as("sy_a"))
      .crossJoin(broadcast(pooled)) // 1-row pooled-moment frame
      .select(
        col("cohort").cast("int").as("cohort"),
        col("n_users"),
        scaledRatio(col("sy_a"), d(col("n_users"))).cast("long").as("mean_y_micro"),
        when(col("nvarx") > 0,
          scaledRatio(
            col("sy_a") * col("nvarx") * d(col("n")) -
              col("ncov") * (col("sx_a") * d(col("n")) - col("sx") * d(col("n_users"))),
            d(col("n_users")) * col("nvarx") * d(col("n"))))
          .cast("long").as("mean_adj_micro"),
        col("theta_micro"),
        col("rho2_micro"))
  }

  /** Stratification-adjusted treatment effect — the standard fix for the
    * confounding [[simpsonAudit]] flags: within each stratum of the
    * confounder, compare arm means; the adjusted effect is the
    * stratum-size-weighted average of the within-stratum differences
    * (identical to the pooled diff only when strata are balanced).
    *
    * One row per stratum — arm counts, arm outcome sums, and the
    * within-stratum mean difference as ONE exact signed micro rational —
    * plus the `stratum = −1` summary row whose `diff_micro` is the
    * adjusted effect over the two-armed strata (one-armed strata carry
    * no contrast; they are excluded from the weights and their row's
    * `diff_micro` is null). Per-stratum diffs are rounded once to micro
    * and the summary averages those longs — the micro-rounded-pipeline
    * discipline, deterministic in any engine.
    *
    * Shape: one hash aggregation over the unit frame; everything after
    * runs on the strata-bounded cell frame.
    */
  def stratifiedAte(
      units: DataFrame,
      stratumCol: String = "stratum",
      tCol: String = "t",
      yCol: String = "y"
  ): DataFrame = {
    val cells = units
      .groupBy(col(stratumCol).cast("long").as("stratum"))
      .agg(
        sum(when(col(tCol) === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col(tCol) === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col(tCol) === 1, col(yCol)).otherwise(0L)).as("sum_y1"),
        sum(when(col(tCol) === 0, col(yCol)).otherwise(0L)).as("sum_y0"))
      .localCheckpoint(eager = true) // strata-bounded; reused twice
    val perStratum = cells.withColumn(
      "diff_micro",
      when(
        col("n1") > 0 && col("n0") > 0,
        // cross-products in DECIMAL(38,0) — ANSI long overflow-proof
        scaledRatio(
          d(col("sum_y1")) * d(col("n0")) - d(col("sum_y0")) * d(col("n1")),
          d(col("n1")) * d(col("n0"))).cast("long")))
    val overall = perStratum
      .filter(col("diff_micro").isNotNull)
      .agg(
        sum(col("n1")).as("n1"),
        sum(col("n0")).as("n0"),
        sum(col("sum_y1")).as("sum_y1"),
        sum(col("sum_y0")).as("sum_y0"),
        sum(d(col("n1") + col("n0")) * d(col("diff_micro"))).as("wsum"),
        sum(col("n1") + col("n0")).as("nadj"))
      .select(
        lit(-1L).as("stratum"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n0"), lit(0L)).as("n0"),
        coalesce(col("sum_y1"), lit(0L)).as("sum_y1"),
        coalesce(col("sum_y0"), lit(0L)).as("sum_y0"),
        when(col("nadj") > 0,
          scaledRatio(col("wsum"), col("nadj"), scale = 1L).cast("long"))
          .as("diff_micro"))
    perStratum
      .select("stratum", "n1", "n0", "sum_y1", "sum_y0", "diff_micro")
      .unionByName(overall)
  }

  /** Simpson's-paradox audit: does the X→Y association reverse sign
    * inside strata? One row per stratum plus the pooled `is_overall`
    * row, each carrying the full 2×2 cell counts, the rate-difference
    * sign, the pooled sign, and a reversal flag. The sign of
    * `P(Y|X=1) − P(Y|X=0)` is evaluated CROSS-MULTIPLIED —
    * `sign(n11·n00 − n10·n01)` — so no division or float ever happens;
    * strata where either arm is empty get sign 0 and never flag (a
    * one-armed stratum cannot exhibit a reversal, only confound it).
    *
    * This is the aggregation-bias tripwire every cohort dashboard
    * needs: a pooled "treatment helps" readout with `n_reversed > 0`
    * strata means the pooled number is confounded by the stratum mix,
    * not a causal summary (the textbook kidney-stone / admissions
    * case).
    *
    * Shape: caller provides a frame already reduced to one row per
    * unit with integer 0/1 `x`/`y` and a stratum key; this is two hash
    * aggregations over that frame plus one broadcast of the 1-row
    * pooled cells — strata-bounded output, no corpus re-scan.
    */
  def simpsonAudit(
      unitsIn: DataFrame,
      stratumCol: String = "stratum",
      xCol: String = "x",
      yCol: String = "y"
  ): DataFrame = {
    // unit-sized (one row per entity) and referenced three times below —
    // checkpoint so the corpus-collapsing aggregation runs once
    val units = unitsIn.localCheckpoint(eager = true)
    val cells = Seq(
      sum(expr(s"CAST($xCol = 1 AND $yCol = 1 AS BIGINT)")).as("n11"),
      sum(expr(s"CAST($xCol = 1 AND $yCol = 0 AS BIGINT)")).as("n10"),
      sum(expr(s"CAST($xCol = 0 AND $yCol = 1 AS BIGINT)")).as("n01"),
      sum(expr(s"CAST($xCol = 0 AND $yCol = 0 AS BIGINT)")).as("n00"))
    // DECIMAL(38,0) cross-products: BIGINT n11*n00 overflows above ~3e9
    // per cell — the same exact-rational discipline stratifiedAte uses.
    val signExpr = expr(
      "CAST(CASE WHEN n11 + n10 = 0 OR n01 + n00 = 0 THEN 0" +
        " ELSE sign(CAST(n11 AS DECIMAL(38,0)) * CAST(n00 AS DECIMAL(38,0))" +
        " - CAST(n10 AS DECIMAL(38,0)) * CAST(n01 AS DECIMAL(38,0))) END AS INT)")
    val perStratum = units
      .groupBy(col(stratumCol).cast("long").as("stratum"))
      .agg(cells.head, cells.tail: _*)
      .withColumn("is_overall", lit(0))
    val overall = units
      .agg(cells.head, cells.tail: _*)
      .select(lit(-1L).as("stratum"), col("n11"), col("n10"), col("n01"),
        col("n00"), lit(1).as("is_overall"))
    val pooledSign = overall.select(signExpr.as("overall_sign"))
    perStratum
      .unionByName(overall)
      .withColumn("diff_sign", signExpr)
      .crossJoin(broadcast(pooledSign)) // 1-row frame
      .withColumn(
        "reversed",
        (col("is_overall") === 0 &&
          col("diff_sign") * col("overall_sign") < 0).cast("int"))
  }
}
