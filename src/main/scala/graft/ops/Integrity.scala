package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Referential-integrity and functional-dependency profiling — the
  * data-contract checks a warehouse runs before trusting a load: do all
  * foreign keys resolve, and which columns actually determine which.
  *
  * Scale notes: [[orphans]] is a left-anti join against the parent's KEY
  * projection — Catalyst broadcasts it when small; at 100 TB parent key
  * sets, the bloom-prefilter form ([[Dedup]]'s delta discipline: probe a
  * compiled filter map-side, exact-join only the positives) is the
  * upgrade path. [[functionalDependency]] is two distinct-count
  * aggregations whose exact form shuffles the distinct pairs; the HLL
  * registers of [[HeavyHitters]] are the sketch substitute when the pair
  * cardinality itself is the bottleneck.
  */
object Integrity {

  /** Child rows whose `childKey` has no match in the parent's
    * `parentKey` — the referential-integrity violations.
    */
  def orphans(
      child: DataFrame,
      childKey: String,
      parent: DataFrame,
      parentKey: String
  ): DataFrame =
    child.join(
      parent.select(col(parentKey).as(childKey)).distinct(),
      Seq(childKey),
      "left_anti")

  /** One-row orphan count labelled `checkName` — the composable unit of a
    * referential-integrity profile (union several into one report).
    */
  def orphanCount(
      checkName: String,
      child: DataFrame,
      childKey: String,
      parent: DataFrame,
      parentKey: String
  ): DataFrame =
    orphans(child, childKey, parent, parentKey)
      .agg(count(lit(1)).as("n_orphans"))
      .select(lit(checkName).as("fk_check"), col("n_orphans"))

  /** Does `lhs` functionally determine `rhs`? Exact test:
    * countDistinct(lhs) == countDistinct(lhs, rhs). Output one row:
    * (fd, n_lhs, n_pairs, holds) with holds as 0/1 int.
    */
  def functionalDependency(df: DataFrame, lhs: String, rhs: String): DataFrame =
    df.agg(
      countDistinct(col(lhs)).as("n_lhs"),
      countDistinct(col(lhs), col(rhs)).as("n_pairs"))
      .select(
        lit(s"$lhs->$rhs").as("fd"),
        col("n_lhs"),
        col("n_pairs"),
        when(col("n_lhs") === col("n_pairs"), 1).otherwise(0).cast("int").as("holds"))

  /** k-anonymity audit over a quasi-identifier combination: how many QI
    * groups fall below the anonymity threshold k, how many rows they hold
    * (the rows that would need suppression or generalization before
    * release), and the dataset's actual anonymity level (the minimum
    * group size). The privacy sibling of the PII redaction pass: that one
    * scrubs direct identifiers, this one measures re-identification risk
    * from the indirect ones.
    *
    * Exactness: counts and one round-half-up basis-point division — the
    * oracle agrees by construction.
    *
    * Shape: one aggregation to the QI-bounded group frame, one more to a
    * single row; map-side partials on both. Nothing row-scale survives
    * the first aggregation.
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    df
      .groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).cast("long").as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(col("n")).cast("long").as("n_rows"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_suppressed_rows"),
        min(col("n")).cast("long").as("anonymity_level"))
      .select(
        lit(qiCols.mkString(",")).as("quasi_identifiers"),
        lit(k).as("k"),
        col("n_groups"),
        col("n_violating_groups"),
        col("n_rows"),
        col("n_suppressed_rows"),
        col("anonymity_level"),
        scaledRatio(col("n_suppressed_rows"), col("n_rows"), 10000L)
          .cast("long")
          .as("suppressed_bps"))
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — the sensitive-
    * attribute follow-up to [[kAnonymity]]: a QI group can satisfy k and
    * still leak if everyone in it shares the same sensitive value
    * (homogeneity attack). Per QI group, count DISTINCT sensitive values;
    * report groups below `l`, the rows they expose, and the dataset's
    * actual diversity level (the minimum distinct count).
    *
    * Exactness: counts and one round-half-up basis-point division.
    *
    * Shape: identical to [[kAnonymity]] — one aggregation to the
    * QI-bounded group frame (count-distinct partials), one more to a
    * single row. Nothing row-scale survives the first aggregation.
    */
  def lDiversity(
      df: DataFrame,
      qiCols: Seq[String],
      sensitive: Column,
      sensitiveName: String,
      l: Long
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    df
      .groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"), countDistinct(sensitive).as("nd"))
      .agg(
        count(lit(1)).cast("long").as("n_groups"),
        sum(when(col("nd") < l, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(col("n")).cast("long").as("n_rows"),
        sum(when(col("nd") < l, col("n")).otherwise(0L)).as("n_exposed_rows"),
        min(col("nd")).cast("long").as("diversity_level"))
      .select(
        lit(qiCols.mkString(",")).as("quasi_identifiers"),
        lit(sensitiveName).as("sensitive"),
        lit(l).as("l"),
        col("n_groups"),
        col("n_violating_groups"),
        col("n_rows"),
        col("n_exposed_rows"),
        col("diversity_level"),
        scaledRatio(col("n_exposed_rows"), col("n_rows"), 10000L)
          .cast("long")
          .as("exposed_bps"))
  }

  /** t-closeness audit (Li et al. 2007) — the distributional member of
    * the release triad ([[kAnonymity]], [[lDiversity]], this): a group
    * can be diverse and still leak if its sensitive DISTRIBUTION differs
    * sharply from the table's (skewness attack). Per QI group, the Earth
    * Mover's Distance between the group's and the global sensitive-value
    * distribution over the ORDERED value scale with unit spacing:
    * `EMD = Σᵢ |Σ_{j≤i}(p_j − q_j)| / (m−1)` — closed per group as ONE
    * exact rational `Σᵢ |cum(c_gj·n − c_j·n_g)| / ((m−1)·n_g·n)` in
    * DECIMAL(38,0), micro-rounded once. Groups with EMD > t are
    * violating; one summary row.
    *
    * Shape: two bounded aggregations (group×band, band) off one scan of
    * the group frame; the full group×band grid is group-count × m rows
    * (m = sensitive bands, a constant) built against the BROADCAST band
    * list; the cumulative runs in a group-PARTITIONED window (never
    * unpartitioned). Nothing row-scale survives the first aggregation.
    */
  def tCloseness(
      df: DataFrame,
      qiCols: Seq[String],
      sensitive: Column,
      tMicro: Long
  ): DataFrame = {
    import graft.functions.ExactDecimal.{d, scaledRatio}
    import org.apache.spark.sql.expressions.Window
    val base = df
      .groupBy((qiCols.map(col) :+ sensitive.as("band")): _*)
      .agg(count(lit(1)).as("c_gb"))
      .localCheckpoint(eager = true) // three bounded aggs share it
    val bands = base.select(col("band")).distinct() // m rows, bounded
    val glob = base.groupBy(col("band")).agg(sum(col("c_gb")).as("c_b"))
    val groups = base.groupBy(qiCols.map(col): _*).agg(sum(col("c_gb")).as("n_g"))
    val tot = glob.agg(
      sum(col("c_b")).cast("long").as("n"),
      count(lit(1)).cast("long").as("m"))
    val w = Window.partitionBy(qiCols.map(col): _*).orderBy(col("band"))
    val grid = groups
      .crossJoin(broadcast(bands))
      .join(broadcast(glob), Seq("band"))
      .join(base, qiCols :+ "band", "left")
      .crossJoin(broadcast(tot))
      .select(
        (qiCols.map(col) :+ col("band") :+ col("n_g") :+ col("n") :+ col("m") :+
          (d(coalesce(col("c_gb"), lit(0L))) * d(col("n")) -
            d(col("c_b")) * d(col("n_g"))).as("dev")): _*)
      .withColumn("cumdev", sum(col("dev")).over(w))
    val perGroup = grid
      .groupBy(qiCols.map(col): _*)
      .agg(
        first(col("n_g")).as("n_g"),
        first(col("n")).as("n"),
        first(col("m")).as("m"),
        sum(abs(col("cumdev"))).as("sum_abs_cum"))
      .select(
        col("n_g"),
        col("n"),
        when(col("m") > 1,
          scaledRatio(col("sum_abs_cum"), (d(col("m")) - d(lit(1L))) * d(col("n_g")) * d(col("n"))))
          .otherwise(lit(0L))
          .cast("long")
          .as("emd_micro"))
    perGroup.agg(
      count(lit(1)).cast("long").as("n_groups"),
      sum(when(col("emd_micro") > tMicro, 1L).otherwise(0L)).as("n_violating_groups"),
      sum(col("n_g")).cast("long").as("n_rows"),
      sum(when(col("emd_micro") > tMicro, col("n_g")).otherwise(0L)).as("n_exposed_rows"),
      max(col("emd_micro")).cast("long").as("max_emd_micro"))
      .select(
        lit(qiCols.mkString(",")).as("quasi_identifiers"),
        lit(tMicro).as("t_micro"),
        col("n_groups"),
        col("n_violating_groups"),
        col("n_rows"),
        col("n_exposed_rows"),
        col("max_emd_micro"))
  }

  /** Dataset version diff — the audit a versioned corpus store runs
    * between two releases: per (source, status) with status ∈
    * added/removed/modified/unchanged, the doc count and the net token
    * delta the release carries. Modification detection is content-hash
    * (md5 of the text), so two versions compare without ever joining
    * text against text.
    *
    * Shape: each version reduces AT THE SCAN to (id, source, text_hash,
    * n_tokens) — hashes and counts, never documents, cross the exchange;
    * one full-outer equi-join on doc_id; one sources×4-row aggregate.
    * At 100 TB this is the minimum possible movement for a content-level
    * diff (ids + 16-byte hashes), the same discipline as the delta-dedup
    * family.
    */
  def datasetDiff(
      v1: DataFrame,
      v2: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    def prep(v: DataFrame, sfx: String): DataFrame = v.select(
      col(idCol).as("id"),
      col(sourceCol).as(s"src$sfx"),
      md5(col(textCol)).as(s"h$sfx"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as(s"t$sfx"))
    prep(v1, "1")
      .join(prep(v2, "2"), Seq("id"), "full_outer")
      .select(
        coalesce(col("src2"), col("src1")).as("source"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "modified")
          .otherwise("unchanged").as("status"),
        (coalesce(col("t2"), lit(0L)) - coalesce(col("t1"), lit(0L))).as("td"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum(col("td")).as("token_delta"))
  }

  /** Warner randomized response (1965) — the local-DP mechanism: each
    * unit reports its sensitive bit TRUTHFULLY with probability
    * p = pNum/pDen and INVERTED otherwise, giving ε = ln(p/(1−p))
    * local differential privacy per unit (p = 3/4 ⇒ ε = ln 3); the
    * per-group population share is then recovered by the unbiased
    * debias π̂ = (r̂ − (1−p)) / (2p − 1), here as ONE exact signed
    * rational in micro units. The "coin" is the seeded md5 hash of the
    * unit key — deterministic, so the whole mechanism (flips included)
    * replays bit-for-bit in any engine; a production release would
    * draw real randomness and PUBLISH ONLY the reported aggregates
    * (the true bit never leaves this operator's input projection).
    *
    * Shape: map-only flip + one hash aggregation — group-bounded
    * output, no shuffle beyond the groupBy.
    */
  def randomizedResponse(
      df: DataFrame,
      keyCol: String,
      sensitive: Column,
      groupCol: String,
      seed: String,
      pNum: Long = 3L,
      pDen: Long = 4L
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    require(pNum > 0 && pNum < pDen, "need 0 < p < 1")
    require(2 * pNum > pDen, "need p > 1/2 or the debias denominator flips sign")
    require((1L << 32) % pDen == 0, "pDen must divide 2^32 for an exact hash threshold")
    val thresh = pNum * ((1L << 32) / pDen)
    val s = sensitive.cast("long")
    val rep = when(Sampling.hashValue(col(keyCol), seed) < thresh, s).otherwise(lit(1L) - s)
    df.select(col(groupCol), rep.as("rep"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("rep")).as("n_reported"))
      .select(
        col(groupCol),
        col("n"),
        col("n_reported"),
        scaledRatio(
          lit(pDen) * col("n_reported") - lit(pDen - pNum) * col("n"),
          col("n") * lit(2 * pNum - pDen))
          .cast("long").as("pi_hat_micro"))
  }
}
