package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.registry.Shared._

/** Statistics over the `events` table: value distributions and robust
  * estimators, A/B tests, attribution models, cohorts and sequences, HLL and
  * count-min sketches with their error reports, and drift checks.
  */
object EventStatsQueries {

  /** Per-day exact-vs-HLL error report at register count `m` — the
    * measured sketch-quality row (shared by the m = 64 and m = 256
    * registrations).
    */
  private def hllErrorReport(s: SparkSession, dir: String, m: Int): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    val e = eventsTable(s, dir)
      .select(expr("ts_ms DIV 86400000").as("day_idx"), col("user_id"))
    val est = graft.ops.HeavyHitters.hllEstimateBy(
      graft.ops.HeavyHitters.hllRegistersBy(e, "user_id", "day_idx", m = m), "day_idx", m = m)
      .select(col("day_idx"), col("est_micro"))
    val exact = e.dropDuplicates("day_idx", "user_id")
      .groupBy(col("day_idx")).agg(count(lit(1)).as("n_exact"))
    est.join(exact, Seq("day_idx"))
      .select(
        col("day_idx").cast("long").as("day_idx"),
        col("n_exact"), col("est_micro"),
        scaledRatio(
          col("est_micro") - col("n_exact") * 1000000L,
          col("n_exact") * 1000000L, 10000L).cast("long").as("err_bps"))
  }

  /** Per-day HLL registers at register count `m` (a power of two): user
    * hashes `h`, bucket and remainder `b`, per-bucket max rank `r`, and
    * the dense (day x bucket) register grid `regs(day_idx, bucket, rho)`.
    */
  private def hllRegisterCtes(m: Int): String = {
    val rhoBase = 33 - Integer.numberOfTrailingZeros(m)
    s"""e AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day_idx, user_id FROM events
      |), h AS (
      |  SELECT day_idx,
      |    CAST(('0x' || substr(md5('hll-' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
      |  FROM e
      |), b AS (
      |  SELECT day_idx, CAST(hv % $m AS INT) AS bucket, hv // $m AS w FROM h
      |), r AS (
      |  SELECT day_idx, bucket,
      |    max(CASE WHEN w = 0 THEN $rhoBase ELSE $rhoBase - length(bin(w)) END) AS rho
      |  FROM b GROUP BY 1, 2
      |), days AS (SELECT DISTINCT day_idx FROM e),
      |regs AS (
      |  SELECT days.day_idx, g.bucket, CAST(COALESCE(r.rho, 0) AS INT) AS rho
      |  FROM days CROSS JOIN (SELECT unnest(range($m)) AS bucket) g
      |  LEFT JOIN r ON r.day_idx = days.day_idx AND r.bucket = g.bucket""".stripMargin
  }

  /** Per-day exact-vs-HLL error replay at any power-of-two `m`: the same
    * chain as [[HllDailyCtes]] with the m-dependent constants (p, rho
    * base, α_m — embedded as Scala-printed double literals, which
    * round-trip to the identical IEEE value in DuckDB) substituted.
    */
  private def hllErrOracle(m: Int): String = {
    val alpha = graft.ops.HeavyHitters.hllAlpha(m)
    s"""WITH ${hllRegisterCtes(m)}
      |), agg AS (
      |  SELECT day_idx,
      |    CAST(sum(CAST(1 AS BIGINT) << (32 - rho)) AS BIGINT) AS s_scaled,
      |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
      |  FROM regs GROUP BY 1
      |), hest AS (
      |  SELECT CAST(day_idx AS BIGINT) AS day_idx,
      |    CAST(floor(
      |      CASE WHEN (${alpha}e0 * ${m.toDouble * m}e0
      |              / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0)) <= ${2.5 * m}e0
      |            AND v_empty > 0
      |      THEN ${m.toDouble}e0 * ln(${m.toDouble}e0 / CAST(v_empty AS DOUBLE))
      |      ELSE ${alpha}e0 * ${m.toDouble * m}e0
      |        / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0) END
      |      * 1e6 + 0.5e0) AS BIGINT) AS est_micro
      |  FROM agg
      |), ex AS (
      |  SELECT day_idx, CAST(count(*) AS BIGINT) AS n_exact
      |  FROM (SELECT DISTINCT day_idx, user_id FROM e) GROUP BY 1
      |), q AS (
      |  SELECT h2.day_idx, ex.n_exact, h2.est_micro,
      |    2 * 10000 * (h2.est_micro - ex.n_exact * 1000000)
      |      + ex.n_exact * 1000000 AS qn,
      |    2 * ex.n_exact * 1000000 AS dv
      |  FROM hest h2 JOIN ex ON ex.day_idx = h2.day_idx
      |)
      |SELECT day_idx, n_exact, est_micro,
      |  CAST((qn - ((qn % dv) + dv) % dv) // dv AS BIGINT) AS err_bps
      |FROM q""".stripMargin
  }

  /** Per-day HLL register chain (m = 64, md5 hash face), closing with
    * `hest(day_idx, v_empty, s_scaled, est_micro)` — shared by the daily
    * estimate row and the exact-vs-sketch error report.
    */
  private val HllDailyCtes: String =
    s"""${hllRegisterCtes(64)}
      |), agg AS (
      |  SELECT day_idx,
      |    CAST(sum(CAST(1 AS BIGINT) << (32 - rho)) AS BIGINT) AS s_scaled,
      |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
      |  FROM regs GROUP BY 1
      |), hest AS (
      |  SELECT CAST(day_idx AS BIGINT) AS day_idx, v_empty, s_scaled,
      |    CAST(floor(
      |      CASE WHEN (0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0)) <= 160.0e0
      |            AND v_empty > 0
      |      THEN 64.0e0 * ln(64.0e0 / CAST(v_empty AS DOUBLE))
      |      ELSE 0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0) END
      |      * 1e6 + 0.5e0) AS BIGINT) AS est_micro
      |  FROM agg
      |)""".stripMargin

  /** Fixed-grid quantile-sketch error replay: one distinct-cents count
    * frame, the exact CDF selection, then one re-grid + CDF + selection
    * per sketch width — mirrors [[graft.ops.Robust.quantileSketchError]]
    * (upper-edge estimate, ceil-rank targets, +10⁶ offset).
    */
  private def quantileSketchOracle(widths: Seq[Long], percents: Seq[Int]): String = {
    val pctList = percents.mkString(", ")
    val widthCtes = widths.map { w =>
      s"""cells$w AS MATERIALIZED (
        |  SELECT (cents + 1000000) // $w AS cell, CAST(sum(cnt) AS BIGINT) AS ccnt
        |  FROM counts GROUP BY 1
        |), ccdf$w AS (
        |  SELECT cell, CAST(sum(ccnt) OVER (ORDER BY cell) AS BIGINT) AS cum FROM cells$w
        |), nc$w AS (SELECT CAST(count(*) AS BIGINT) AS cells_used FROM cells$w),
        |est$w AS (
        |  SELECT t.pct, CAST(min(c.cell) AS BIGINT) AS cell
        |  FROM ccdf$w c JOIN targets t ON c.cum >= t.rank GROUP BY 1
        |)""".stripMargin
    }.mkString(",\n")
    val legs = widths.map { w =>
      s"""SELECT CAST($w AS BIGINT) AS w_units, e.pct,
        |  CAST(e.cell * $w + ${w - 1} - 1000000 AS BIGINT) AS est_v, nc.cells_used
        |FROM est$w e, nc$w nc""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH vals AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events
      |), counts AS MATERIALIZED (
      |  SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM vals GROUP BY 1
      |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM counts),
      |targets AS MATERIALIZED (
      |  SELECT CAST(pct AS INT) AS pct, n,
      |    CAST((pct * n + 99) // 100 AS BIGINT) AS rank
      |  FROM (SELECT unnest([$pctList]) AS pct), tot
      |), cdf AS (
      |  SELECT cents, CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum FROM counts
      |), exact AS MATERIALIZED (
      |  SELECT t.pct, t.rank, t.n, CAST(min(c.cents) AS BIGINT) AS exact_v
      |  FROM cdf c JOIN targets t ON c.cum >= t.rank GROUP BY 1, 2, 3
      |),
      |$widthCtes,
      |ests AS (
      |$legs
      |)
      |SELECT j.w_units, j.pct, x.n, x.rank, x.exact_v, j.est_v,
      |  j.est_v - x.exact_v AS err_units, j.cells_used
      |FROM ests j JOIN exact x ON x.pct = j.pct""".stripMargin
  }

  /** Unrolled six-step power iteration mirroring
    * [[graft.ops.Cohort.markovStationary]]: uniform micro start, per-edge
    * round-half-up mass distribution, dangling states self-loop.
    */
  private val MarkovStationaryOracle: String = {
    val base =
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        |  FROM events
        |), m0 AS MATERIALIZED (
        |  SELECT event_type AS src_type, dst_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2
        |), m AS MATERIALIZED (
        |  SELECT src_type, dst_type, n, sum(n) OVER (PARTITION BY src_type) AS tot FROM m0
        |), states AS (
        |  SELECT src_type AS state FROM m0 UNION SELECT dst_type FROM m0
        |), kc AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
        |v0 AS MATERIALIZED (SELECT state, (2000000 + k) // (2 * k) AS v FROM states CROSS JOIN kc)""".stripMargin
    val steps = (1 to 6).map { i =>
      val p = s"v${i - 1}"
      s""",
         |v$i AS MATERIALIZED (
         |  SELECT state, CAST(sum(v) AS BIGINT) AS v FROM (
         |    SELECT m.dst_type AS state, (2 * $p.v * m.n + m.tot) // (2 * m.tot) AS v
         |    FROM $p JOIN m ON m.src_type = $p.state
         |    UNION ALL
         |    SELECT state, v FROM $p
         |    WHERE state NOT IN (SELECT src_type FROM m0)
         |  ) GROUP BY 1
         |)""".stripMargin
    }.mkString
    base + steps + "\nSELECT state, CAST(v AS BIGINT) AS pi_micro FROM v6"
  }

  /** Markov removal-effect replay: journey edges → transition counts →
    * one absorbing-value iteration chain per (base + knocked-out
    * channel), each `iters` exact fixed-point steps mirroring
    * [[graft.ops.Cohort.markovRemovalAttribution]]'s driver loop.
    */
  private def markovRemovalOracle(iters: Int): String = {
    val channels = Seq("click", "error", "signup", "view")
    val states = channels :+ "START"
    def chain(sfx: String, knockout: Option[String]): String = {
      val v0 =
        s"""v0$sfx AS (
          |  SELECT 'CONV' AS state, CAST(1000000 AS BIGINT) AS p
          |  UNION ALL SELECT 'NULL', 0
          |${states.map(s => s"  UNION ALL SELECT '$s', 0").mkString("\n")}
          |)""".stripMargin
      val steps = (1 to iters).map { i =>
        val clamp = knockout.map(c => s"CASE WHEN state = '$c' THEN 0 ELSE p END").getOrElse("p")
        // MATERIALIZED: DuckDB inlines plain CTEs, so every step would
        // otherwise re-expand the whole events→trans pipeline — this
        // oracle alone cost 344 s of the round-8 gate; ~1 s materialized.
        s""", v$i$sfx AS MATERIALIZED (
          |  SELECT state, CAST($clamp AS BIGINT) AS p FROM (
          |    SELECT t.src AS state,
          |      CAST(sum((2*v.p*t.n + tt.tot) // (2*tt.tot)) AS BIGINT) AS p
          |    FROM trans t JOIN v${i - 1}$sfx v ON v.state = t.dst
          |    JOIN tots tt ON tt.src = t.src
          |    GROUP BY t.src
          |  )
          |  UNION ALL SELECT 'CONV', 1000000 UNION ALL SELECT 'NULL', 0
          |)""".stripMargin
      }.mkString
      v0 + steps
    }
    val chains = (chain("b", None) +:
      channels.map(c => chain(s"k$c", Some(c)))).mkString(",\n")
    val reRows = channels.map { c =>
      s"SELECT '$c' AS channel, (SELECT p FROM v${iters}k$c WHERE state = 'START') AS vc"
    }.mkString("\n  UNION ALL ")
    s"""WITH seq AS MATERIALIZED (
      |  SELECT user_id, event_type, ts, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), firstp AS MATERIALIZED (
      |  SELECT user_id, min(rn) AS prn FROM seq WHERE event_type = 'purchase' GROUP BY 1
      |), tou AS MATERIALIZED (
      |  SELECT s.user_id, s.event_type, s.rn
      |  FROM seq s LEFT JOIN firstp f ON f.user_id = s.user_id
      |  WHERE f.prn IS NULL OR s.rn < f.prn
      |), mid AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS dst
      |  FROM tou
      |), pu AS (
      |  SELECT user_id, min_by(event_type, rn) AS first_t, max_by(event_type, rn) AS last_t
      |  FROM tou GROUP BY 1
      |), puabs AS (
      |  SELECT p.user_id, p.first_t, p.last_t,
      |    CASE WHEN f.prn IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS ab
      |  FROM pu p LEFT JOIN firstp f ON f.user_id = p.user_id
      |), edges AS (
      |  SELECT 'START' AS src, first_t AS dst FROM puabs
      |  UNION ALL
      |  SELECT 'START', 'CONV' FROM firstp f
      |  WHERE f.user_id NOT IN (SELECT user_id FROM tou)
      |  UNION ALL
      |  SELECT src, dst FROM mid WHERE dst IS NOT NULL
      |  UNION ALL
      |  SELECT last_t, ab FROM puabs
      |), trans AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM edges GROUP BY 1, 2),
      |tots AS MATERIALIZED (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM trans GROUP BY 1),
      |$chains,
      |basev AS (SELECT greatest(p, 1) AS v_start, p AS raw_v FROM v${iters}b WHERE state = 'START'),
      |re AS (
      |  $reRows
      |), re2 AS (
      |  SELECT channel,
      |    1000000 - (2*1000000*vc + b.v_start) // (2*b.v_start) AS re_m, b.raw_v
      |  FROM re, basev b
      |), ret AS (SELECT greatest(sum(re_m), 1) AS rt FROM re2)
      |SELECT channel, CAST(raw_v AS BIGINT) AS conv_prob_micro,
      |  CAST(re_m AS BIGINT) AS removal_effect_micro,
      |  CAST((2*10000*re_m + ret.rt) // (2*ret.rt) AS BIGINT) AS attribution_bps
      |FROM re2, ret""".stripMargin
  }

  /** Shapley attribution replay: journey channel sets → exact-set
    * conversion counts → 2^K coalition values as one wide row → the
    * factorial-weighted lattice sum per channel, mirroring
    * [[graft.ops.Cohort.shapleyAttribution]]'s driver arithmetic.
    */
  private def shapleyOracle: String = {
    val channels = Seq("click", "error", "signup", "view")
    val k = channels.length
    val fact = (1 to k).scanLeft(1L)(_ * _.toLong).toArray
    def key(mask: Int): String =
      channels.zipWithIndex.collect { case (c, i) if (mask & (1 << i)) != 0 => c }.mkString(",")
    val vCols = (0 until (1 << k)).map { s =>
      val subs = (0 until (1 << k)).filter(t => (t & ~s) == 0)
      val inList = subs.map(t => s"'${key(t)}'").mkString(", ")
      s"coalesce((SELECT sum(nconv) FROM g WHERE chset IN ($inList)), 0) AS v_$s"
    }.mkString(",\n  ")
    val phiRows = channels.zipWithIndex.map { case (c, i) =>
      val bit = 1 << i
      val terms = (0 until (1 << k)).filter(s => (s & bit) == 0).map { s =>
        val w = fact(Integer.bitCount(s)) * fact(k - 1 - Integer.bitCount(s))
        s"$w*(v_${s | bit} - v_$s)"
      }.mkString(" + ")
      s"SELECT '$c' AS channel, CAST($terms AS BIGINT) AS p FROM v"
    }.mkString("\n  UNION ALL ")
    val kf = fact(k)
    s"""WITH seq AS MATERIALIZED (
      |  SELECT user_id, event_type, ts, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), firstp AS MATERIALIZED (
      |  SELECT user_id, min(rn) AS prn FROM seq WHERE event_type = 'purchase' GROUP BY 1
      |), tou AS MATERIALIZED (
      |  SELECT s.user_id, s.event_type, s.rn
      |  FROM seq s LEFT JOIN firstp f ON f.user_id = s.user_id
      |  WHERE f.prn IS NULL OR s.rn < f.prn
      |), us AS (
      |  SELECT t.user_id,
      |    string_agg(DISTINCT t.event_type, ',' ORDER BY t.event_type) AS chset,
      |    max(CASE WHEN f.prn IS NOT NULL THEN 1 ELSE 0 END) AS conv
      |  FROM tou t LEFT JOIN firstp f ON f.user_id = t.user_id
      |  GROUP BY 1
      |  UNION ALL
      |  SELECT f.user_id, '', 1 FROM firstp f
      |  WHERE f.user_id NOT IN (SELECT user_id FROM tou)
      |), g AS MATERIALIZED (SELECT chset, CAST(sum(conv) AS BIGINT) AS nconv FROM us GROUP BY 1),
      |v AS MATERIALIZED (SELECT
      |  $vCols
      |), phi AS MATERIALIZED (
      |  $phiRows
      |), pt AS (SELECT greatest(sum(p), 1) AS t FROM phi)
      |SELECT channel,
      |  CAST((2*1000000*p + $kf) // ${2 * kf} AS BIGINT) AS shapley_conversions_micro,
      |  CAST((2*10000*p + pt.t) // (2*pt.t) AS BIGINT) AS attribution_bps
      |FROM phi, pt""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("value_winsorized") { (s, dir) =>
      // Per-group winsorization: clip each event type's values to its own
      // [p05, p95] and report robust stats. The clipped-sum decomposes into
      // exact integer components (middle sum, clip counts) + one fixed-
      // order double projection per group — no float accumulation, so the
      // winsorized mean is oracle-exact. Bounds frame is tiny → broadcast;
      // two scans (bounds agg + clip pass), the unavoidable minimum for a
      // data-dependent threshold.
      val e = eventsTable(s, dir).select(col("event_type"), cents(col("value")).as("v"))
      val bounds = e.groupBy(col("event_type")).agg(
        percentile(col("v"), lit(0.05)).as("lo"),
        percentile(col("v"), lit(0.95)).as("hi"))
      val vd = col("v").cast("double")
      val a = e.join(broadcast(bounds), "event_type")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(vd < col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(vd > col("hi"), 1L).otherwise(0L)).as("n_hi"),
          sum(when(vd >= col("lo") && vd <= col("hi"), col("v")).otherwise(0L)).as("sum_mid"),
          first(col("lo")).as("lo"),
          first(col("hi")).as("hi"))
      a.select(
        col("event_type"), col("n"), col("n_lo"), col("n_hi"), col("sum_mid"),
        round(col("lo"), 4).as("lo_r4"),
        round(col("hi"), 4).as("hi_r4"),
        round(
          (col("n_lo").cast("double") * col("lo") + col("n_hi").cast("double") * col("hi") +
            col("sum_mid").cast("double")) / col("n").cast("double"), 4).as("wmean_r4"))
    }.oracle(
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS v FROM events
        |), b AS (
        |  SELECT event_type, quantile_cont(v, 0.05e0) AS lo, quantile_cont(v, 0.95e0) AS hi
        |  FROM e GROUP BY 1
        |), a AS (
        |  SELECT e.event_type,
        |    count(*) AS n,
        |    sum(CASE WHEN CAST(v AS DOUBLE) < lo THEN 1 ELSE 0 END) AS n_lo,
        |    sum(CASE WHEN CAST(v AS DOUBLE) > hi THEN 1 ELSE 0 END) AS n_hi,
        |    sum(CASE WHEN CAST(v AS DOUBLE) >= lo AND CAST(v AS DOUBLE) <= hi THEN v ELSE 0 END) AS sum_mid,
        |    any_value(lo) AS lo, any_value(hi) AS hi
        |  FROM e JOIN b ON e.event_type = b.event_type
        |  GROUP BY 1
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(n_lo AS BIGINT) AS n_lo,
        |  CAST(n_hi AS BIGINT) AS n_hi, CAST(sum_mid AS BIGINT) AS sum_mid,
        |  round(lo, 4) AS lo_r4, round(hi, 4) AS hi_r4,
        |  round((CAST(n_lo AS DOUBLE) * lo + CAST(n_hi AS DOUBLE) * hi
        |    + CAST(sum_mid AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS wmean_r4
        |FROM a""".stripMargin),
    Query("value_percentiles") { (s, dir) =>
      // Holistic aggregate coverage: exact percentiles of the event value in
      // cents (integer input; both engines use linear interpolation — round
      // to 4dp for a stable cross-engine compare).
      eventsTable(s, dir)
        .select(cents(col("value")).as("v"))
        .agg(
          round(percentile(col("v"), lit(0.25)), 4).as("p25"),
          round(percentile(col("v"), lit(0.5)), 4).as("p50"),
          round(percentile(col("v"), lit(0.75)), 4).as("p75"),
          round(percentile(col("v"), lit(0.95)), 4).as("p95")
        )
    }.oracle(
      """SELECT
        |  round(quantile_cont(CAST(floor(value*100 + 0.5) AS BIGINT), 0.25), 4) AS p25,
        |  round(quantile_cont(CAST(floor(value*100 + 0.5) AS BIGINT), 0.5), 4) AS p50,
        |  round(quantile_cont(CAST(floor(value*100 + 0.5) AS BIGINT), 0.75), 4) AS p75,
        |  round(quantile_cont(CAST(floor(value*100 + 0.5) AS BIGINT), 0.95), 4) AS p95
        |FROM events""".stripMargin),
    Query("value_histogram") { (s, dir) =>
      // Fixed-width histogram as pure integer bucket math (width_bucket
      // without the float edge cases): 20 buckets of 25.00 over the value
      // range, top bucket clamped.
      eventsTable(s, dir)
        .select(cents(col("value")).as("c"))
        .select(least(expr("c DIV 2500"), lit(19L)).cast("int").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_events"))
    }.oracle(
      """SELECT CAST(least(CAST(floor(value*100 + 0.5) AS BIGINT) // 2500, 19) AS INT) AS bucket,
        |  count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin),
    Query("value_comoments") { (s, dir) =>
      // Correlation/covariance surface, oracle-exact: the five co-moment
      // sums as exact integers (value in cents × hour-of-day). corr/covar
      // derive from these by arithmetic; the engines' one-pass corr()
      // accumulates floats in partition order and is NOT cross-engine
      // hashable — the sums are.
      eventsTable(s, dir)
        .select(
          col("event_type"),
          cents(col("value")).as("x"),
          expr("ts_ms DIV 3600000 % 24").as("y")
        )
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"),
          sum(col("x") * col("x")).as("sum_xx"),
          sum(col("y")).as("sum_y"),
          sum(col("y") * col("y")).as("sum_yy"),
          sum(col("x") * col("y")).as("sum_xy")
        )
    }.oracle(
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS x,
        |    (epoch_ms(ts) // 3600000) % 24 AS y
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sum_x,
        |  CAST(sum(x*x) AS BIGINT) AS sum_xx,
        |  CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(y*y) AS BIGINT) AS sum_yy,
        |  CAST(sum(x*y) AS BIGINT) AS sum_xy
        |FROM e GROUP BY 1""".stripMargin),
    Query("hll_daily_users") { (s, dir) =>
      // Distinct users per day via one HLL sketch per day: per-group state
      // is ≤ m registers no matter the user cardinality — the windowed
      // distinct-count an exact distinct can't do with bounded state.
      val e = eventsTable(s, dir)
        .select(expr("ts_ms DIV 86400000").as("day_idx"), col("user_id"))
      graft.ops.HeavyHitters.hllEstimateBy(
        graft.ops.HeavyHitters.hllRegistersBy(e, "user_id", "day_idx"),
        "day_idx")
    }.oracle(
      s"""WITH $HllDailyCtes
        |SELECT day_idx, v_empty, s_scaled, est_micro FROM hest""".stripMargin),
    Query("cohort_retention") { (s, dir) =>
      // Weekly retention triangle: users bucketed by first-active week,
      // counted at each later active week. Time buckets are pure integer
      // epoch-ms arithmetic — no calendar function in the plan
      // (ops/Cohort.scala); log touched once, then ids-only frames.
      graft.ops.Cohort.retentionMatrix(eventsTable(s, dir))
    }.oracle(
      """WITH active AS (
        |  SELECT DISTINCT user_id, ((epoch_ms(ts) // 86400000) - 4) // 7 AS week FROM events
        |), c AS (
        |  SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_week FROM active
        |)
        |SELECT cohort_week, CAST(week - cohort_week AS INT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM c GROUP BY 1, 2""".stripMargin),
    Query("survival_life_table") { (s, dir) =>
      // Kaplan–Meier life table over user lifetimes: at-risk / churned /
      // right-censored per lifetime day, hazard in exact bps; censoring =
      // last activity on the corpus's final observed day. At-risk suffix
      // sums ride the distributed prefix-sum primitive — rows bounded by
      // the observation span, never the corpus (ops/Cohort.scala).
      graft.ops.Cohort.survivalLifeTable(eventsTable(s, dir))
    }.oracle(
      """WITH u AS (
        |  SELECT user_id, min(epoch_ms(ts) // 86400000) AS first_day,
        |    max(epoch_ms(ts) // 86400000) AS last_day
        |  FROM events GROUP BY 1
        |), oe AS (SELECT max(last_day) AS obs_end FROM u),
        |dd AS (
        |  SELECT last_day - first_day AS dur_days,
        |    CASE WHEN last_day = (SELECT obs_end FROM oe) THEN 1 ELSE 0 END AS cen
        |  FROM u
        |), t AS (
        |  SELECT dur_days, CAST(sum(1 - cen) AS BIGINT) AS d_churned,
        |    CAST(sum(cen) AS BIGINT) AS c_censored
        |  FROM dd GROUP BY 1
        |), r AS (
        |  SELECT *, d_churned + c_censored AS leaving,
        |    sum(d_churned + c_censored) OVER (ORDER BY dur_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(d_churned + c_censored) OVER () AS n_total
        |  FROM t
        |)
        |SELECT dur_days, CAST(n_total - cum + leaving AS BIGINT) AS n_risk,
        |  d_churned, c_censored,
        |  CAST((2 * 10000 * d_churned + (n_total - cum + leaving))
        |    // (2 * (n_total - cum + leaving)) AS INT) AS hazard_bps
        |FROM r""".stripMargin),
    Query("rate_spike_hours") { (s, dir) =>
      // Burst detection: hours where a user runs >1.5× their own average
      // hourly rate (2× fires on nothing at the smallest SF — uniform
      // synthetic traffic has thin bursts). Cross-multiplied integer
      // comparison — no division anywhere (ops/Cohort.scala).
      graft.ops.Cohort.rateSpikeHours(eventsTable(s, dir), thresholdPct = 150)
    }.oracle(
      """WITH h AS (
        |  SELECT user_id, epoch_ms(ts) // 3600000 AS hour, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT user_id, hour, n,
        |    CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS total,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS INT) AS n_hours
        |  FROM h
        |)
        |SELECT user_id, hour * 3600000 AS hour_ms, n, total, n_hours
        |FROM t WHERE n * 100 * n_hours > 150 * total""".stripMargin),
    Query("attribution_markov_removal") { (s, dir) =>
      // Data-driven attribution: absorbing-chain conversion probability
      // from START, re-solved with each channel knocked out — credit =
      // the conversion mass that disappears without the channel,
      // normalized to bps. 12 exact fixed-point steps per chain in the
      // bounded driver loop; (K+2)^2-row collect (ops/Cohort.scala).
      graft.ops.Cohort.markovRemovalAttribution(eventsTable(s, dir))
    }.oracle(markovRemovalOracle(12)),
    Query("attribution_shapley") { (s, dir) =>
      // Cooperative-game attribution: coalition value v(S) = conversions
      // of journeys whose channel set ⊆ S; exact factorial-weighted
      // Shapley values over the 2^K driver lattice, efficiency-pinned to
      // the touched conversions (ops/Cohort.scala).
      graft.ops.Cohort.shapleyAttribution(eventsTable(s, dir))
    }.oracle(shapleyOracle),
    Query("user_bot_signals") { (s, dir) =>
      // Traffic-cleaning screen: per-user rate / no-sleep-cycle /
      // subsecond-burst signals, each an exact integer comparison; gaps
      // ride the (ts, event_id) total order in a USER-partitioned window
      // (ops/Cohort.scala).
      graft.ops.Cohort.botSignals(eventsTable(s, dir))
    }.oracle(
      """WITH b AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms_v, event_id,
        |    epoch_ms(ts) // 3600000 AS h
        |  FROM events
        |), stats AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT h) AS BIGINT) AS n_active_hours,
        |    CAST(count(DISTINCT h % 24) AS BIGINT) AS n_active_hods,
        |    CAST(max(h) - min(h) + 1 AS BIGINT) AS span_hours
        |  FROM b GROUP BY 1
        |), g AS (
        |  SELECT user_id,
        |    ts_ms_v - lag(ts_ms_v) OVER (PARTITION BY user_id ORDER BY ts_ms_v, event_id) AS gap_ms
        |  FROM b
        |), gaps AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(CASE WHEN gap_ms < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS sub_sec_gaps
        |  FROM g WHERE gap_ms IS NOT NULL GROUP BY 1
        |), j AS (
        |  SELECT s.user_id, s.n_events, s.n_active_hours, s.n_active_hods, s.span_hours,
        |    coalesce(ga.n_gaps, 0) AS n_gaps, coalesce(ga.sub_sec_gaps, 0) AS sub_sec_gaps
        |  FROM stats s LEFT JOIN gaps ga ON ga.user_id = s.user_id
        |)
        |SELECT *,
        |  CAST(CASE WHEN n_events > n_active_hours * 50 THEN 1 ELSE 0 END AS INT) AS rate_flag,
        |  CAST(CASE WHEN n_active_hods >= 20 THEN 1 ELSE 0 END AS INT) AS allday_flag,
        |  CAST(CASE WHEN sub_sec_gaps * 4 > n_gaps AND n_gaps > 0 THEN 1 ELSE 0 END AS INT) AS burst_flag,
        |  CAST(CASE WHEN n_events > n_active_hours * 50 THEN 1 ELSE 0 END
        |     + CASE WHEN n_active_hods >= 20 THEN 1 ELSE 0 END
        |     + CASE WHEN sub_sec_gaps * 4 > n_gaps AND n_gaps > 0 THEN 1 ELSE 0 END
        |    AS INT) AS bot_score
        |FROM j""".stripMargin),
    Query("event_burstiness") { (s, dir) =>
      // Is each event type's arrival process bursty at all? Fano factor
      // (var/mean of hourly counts over the global span, zero-hours
      // counted) as one exact rational per type — 1 = Poisson, >1 =
      // clumped; the dispersion companion to rate_spike_hours
      // (ops/Cohort.scala).
      graft.ops.Cohort.eventBurstiness(eventsTable(s, dir))
    }.oracle(
      """WITH cells AS (
        |  SELECT event_type, epoch_ms(ts) // 3600000 AS hour,
        |    CAST(count(*) AS HUGEINT) AS c
        |  FROM events GROUP BY 1, 2
        |), span AS (
        |  SELECT CAST(max(hour) - min(hour) + 1 AS HUGEINT) AS h FROM cells
        |), t AS (
        |  SELECT event_type, CAST(sum(c) AS HUGEINT) AS ne,
        |    CAST(count(*) AS BIGINT) AS nah, sum(c * c) AS sq
        |  FROM cells GROUP BY 1
        |)
        |SELECT event_type, CAST(ne AS BIGINT) AS n_events, nah AS n_active_hours,
        |  CAST(h AS BIGINT) AS n_span_hours,
        |  CAST((2 * 1000000 * h * (h * sq - ne * ne) + h * h * ne
        |    - (((2 * 1000000 * h * (h * sq - ne * ne) + h * h * ne) % (2 * h * h * ne))
        |      + 2 * h * h * ne) % (2 * h * h * ne))
        |    // (2 * h * h * ne) AS BIGINT) AS fano_micro
        |FROM t, span""".stripMargin),
    Query("event_leadlag") { (s, dir) =>
      // Does signup activity LEAD purchases? Pearson r between the two
      // hourly series at lags -3..+3 (positive lag = signup leads),
      // exact integer sums over the zero-filled span series, IEEE
      // sqrt/division only in the final r (ops/Cohort.scala).
      graft.ops.Cohort.eventLeadLag(eventsTable(s, dir), "signup", "purchase")
    }.oracle(
      """WITH cells AS (
        |  SELECT event_type AS t, epoch_ms(ts) // 3600000 AS h,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('signup', 'purchase') GROUP BY 1, 2
        |), span AS (SELECT min(h) AS h0, max(h) AS h1 FROM cells),
        |dense AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM span),
        |da AS (
        |  SELECT dense.h, CAST(coalesce(c, 0) AS HUGEINT) AS ca
        |  FROM dense LEFT JOIN cells ON cells.h = dense.h AND cells.t = 'signup'
        |), db AS (
        |  SELECT dense.h, CAST(coalesce(c, 0) AS HUGEINT) AS cb
        |  FROM dense LEFT JOIN cells ON cells.h = dense.h AND cells.t = 'purchase'
        |), lags AS (SELECT unnest(range(-3, 4)) AS lag),
        |j AS (
        |  SELECT lags.lag, da.ca, db.cb
        |  FROM da CROSS JOIN lags JOIN db ON db.h = da.h + lags.lag
        |), a AS (
        |  SELECT lag, CAST(count(*) AS HUGEINT) AS n,
        |    sum(ca) AS sa, sum(cb) AS sb, sum(ca * cb) AS sab,
        |    sum(ca * ca) AS saa, sum(cb * cb) AS sbb
        |  FROM j GROUP BY 1
        |)
        |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_hours,
        |  CAST(n * sab - sa * sb AS BIGINT) AS ncov,
        |  CAST(CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
        |    floor(CAST(n * sab - sa * sb AS DOUBLE)
        |      / (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
        |      * 1000.0 + 0.5)
        |    END AS BIGINT) AS r_milli
        |FROM a""".stripMargin),
    Query("hll_retained_users") { (s, dir) =>
      // Sketch algebra: |A∩B| by inclusion–exclusion over merged HLL
      // registers (union = per-bucket max) — the sketch substitute for
      // the exact INTERSECT of user_retention_sets: 2·m register rows
      // cross the exchange instead of two user sets
      // (ops/HeavyHitters.scala).
      val ev = eventsTable(s, dir)
      val mid = 1705276800000L // same split as user_retention_sets
      graft.ops.HeavyHitters.hllIntersect(
        ev.filter(col("ts_ms") < mid).select(col("user_id")),
        ev.filter(col("ts_ms") >= mid).select(col("user_id")),
        "user_id")
    }.oracle(
      """WITH e AS (
        |  SELECT CASE WHEN epoch_ms(ts) < 1705276800000 THEN 'a' ELSE 'b' END AS k, user_id
        |  FROM events
        |), h AS (
        |  SELECT k,
        |    CAST(('0x' || substr(md5('hll-' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
        |  FROM e
        |), b AS (
        |  SELECT k, CAST(hv % 64 AS INT) AS bucket, hv // 64 AS w FROM h
        |), r AS (
        |  SELECT k, bucket,
        |    max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS rho
        |  FROM b GROUP BY 1, 2
        |), r2 AS (
        |  SELECT k, bucket, rho FROM r
        |  UNION ALL
        |  SELECT 'u' AS k, bucket, max(rho) AS rho FROM r GROUP BY bucket
        |), keys AS (SELECT DISTINCT k FROM r2),
        |regs AS (
        |  SELECT keys.k, g.bucket, CAST(COALESCE(r2.rho, 0) AS INT) AS rho
        |  FROM keys CROSS JOIN (SELECT unnest(range(64)) AS bucket) g
        |  LEFT JOIN r2 ON r2.k = keys.k AND r2.bucket = g.bucket
        |), agg AS (
        |  SELECT k,
        |    CAST(sum(CAST(1 AS BIGINT) << (32 - rho)) AS BIGINT) AS s_scaled,
        |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM regs GROUP BY 1
        |), est AS (
        |  SELECT k,
        |    CAST(floor(
        |      CASE WHEN (0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0)) <= 160.0e0
        |            AND v_empty > 0
        |      THEN 64.0e0 * ln(64.0e0 / CAST(v_empty AS DOUBLE))
        |      ELSE 0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0) END
        |      * 1e6 + 0.5e0) AS BIGINT) AS est_micro
        |  FROM agg
        |)
        |SELECT
        |  max(CASE WHEN k = 'a' THEN est_micro END) AS est_a_micro,
        |  max(CASE WHEN k = 'b' THEN est_micro END) AS est_b_micro,
        |  max(CASE WHEN k = 'u' THEN est_micro END) AS est_union_micro,
        |  max(CASE WHEN k = 'a' THEN est_micro END) + max(CASE WHEN k = 'b' THEN est_micro END)
        |    - max(CASE WHEN k = 'u' THEN est_micro END) AS est_intersect_micro
        |FROM est""".stripMargin),
    Query("event_transitions") { (s, dir) =>
      // First-order Markov transition matrix over each user's event
      // sequence, ordered by the full (ts, event_id) total order so both
      // engines replay the identical sequence; shares in exact basis
      // points (ops/Cohort.scala).
      graft.ops.Cohort.eventTransitions(eventsTable(s, dir))
    }.oracle(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        |  FROM events
        |), pairs AS (
        |  SELECT event_type AS src_type, dst_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT src_type, dst_type, n,
        |  CAST((2 * 10000 * n + sum(n) OVER (PARTITION BY src_type))
        |    // (2 * sum(n) OVER (PARTITION BY src_type)) AS INT) AS share_bps
        |FROM pairs""".stripMargin),
    Query("frequent_sequences") { (s, dir) =>
      // Sequential patterns: event-type trigrams with support counted once
      // per user (transitions count occurrences; support counts adopters),
      // exact basis-point share of the user base (ops/Cohort.scala).
      graft.ops.Cohort.frequentSequences(eventsTable(s, dir))
    }.oracle(
      """WITH s AS (
        |  SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events
        |), t AS (SELECT * FROM s WHERE e3 IS NOT NULL),
        |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nt FROM events),
        |p AS (
        |  SELECT e1, e2, e3, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM t GROUP BY 1, 2, 3 HAVING count(DISTINCT user_id) >= 5
        |)
        |SELECT e1, e2, e3, n_users, n_occurrences,
        |  CAST((2 * 10000 * n_users + nt) // (2 * nt) AS INT) AS support_bps
        |FROM p, u""".stripMargin),
    Query("hll_rolling_users") { (s, dir) =>
      // 7-day rolling distinct users by HLL register MERGE: the union
      // sketch over a window is the per-bucket max of the daily
      // registers — no re-scan of raw events, no unbounded per-window
      // user sets. Everything after the one raw scan runs on ≤ days·64
      // register rows (ops/HeavyHitters.scala).
      val e = eventsTable(s, dir)
        .select(expr("ts_ms DIV 86400000").as("day_idx"), col("user_id"))
      graft.ops.HeavyHitters.hllEstimateBy(
        graft.ops.HeavyHitters.hllRollingRegisters(
          graft.ops.HeavyHitters.hllRegistersBy(e, "user_id", "day_idx"),
          "day_idx", windowSpan = 7),
        "day_idx")
    }.oracle(
      // daily sketch build identical to hll_daily_users, then the rolling
      // merge: per-bucket max over the trailing-7-day RANGE window
      s"""WITH ${hllRegisterCtes(64)}
        |), merged AS (
        |  SELECT day_idx, bucket,
        |    max(rho) OVER (PARTITION BY bucket ORDER BY day_idx
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rho
        |  FROM regs
        |), agg AS (
        |  SELECT day_idx,
        |    CAST(sum(CAST(1 AS BIGINT) << (32 - rho)) AS BIGINT) AS s_scaled,
        |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM merged GROUP BY 1
        |)
        |SELECT CAST(day_idx AS BIGINT) AS day_idx, v_empty, s_scaled,
        |  CAST(floor(
        |    CASE WHEN (0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0)) <= 160.0e0
        |          AND v_empty > 0
        |    THEN 64.0e0 * ln(64.0e0 / CAST(v_empty AS DOUBLE))
        |    ELSE 0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0) END
        |    * 1e6 + 0.5e0) AS BIGINT) AS est_micro
        |FROM agg""".stripMargin),
    Query("hll_error_report") { (s, dir) =>
      // Sketch-vs-truth, measured: per day, the exact distinct-user
      // count next to the HLL estimate and the signed error in bps —
      // the hll family's minhash_calibration analogue ("how wrong is
      // m=64 on MY cardinalities", answered with numbers: 4-27% under
      // at sf0.1). Exact leg is one distinct+count; estimate leg is the
      // existing register pipeline.
      hllErrorReport(s, dir, m = 64)
    }.oracle(hllErrOracle(64)),
    Query("hll_error_report_m256") { (s, dir) =>
      // The tuning follow-up the m=64 row demands: same report at
      // m = 256 (std err ≈ 6.5%) — measure, fix, re-measure; the bps
      // column shows the error collapse for 4× the register state.
      hllErrorReport(s, dir, m = 256)
    }.oracle(hllErrOracle(256)),
    Query("selfjoin_size_sketch") { (s, dir) =>
      // F2 = Σ c² = the OUTPUT SIZE of a self-equi-join on user_id — the
      // number a planner needs before committing to a shuffle join on a
      // possibly-skewed key — estimated two classic ways from 5×256
      // mergeable counters (AMS median-of-rows, unbiased; CMS
      // inner-product min-of-rows, upper bound) next to the exact
      // moment, with round-half-up error bps for each. Measured at
      // sf0.1: AMS lands within ~35%; CMS overshoots ~6x because its
      // additive collision term is n²/w — the estimator-selection
      // lesson as data (ops/HeavyHitters.scala).
      graft.ops.HeavyHitters.selfJoinSizeSketch(eventsTable(s, dir), "user_id")
    }.oracle(
      """WITH freq AS (
        |  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
        |), ex AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(c * c) AS BIGINT) AS f2_exact
        |  FROM freq
        |), cb AS (
        |  SELECT j.j AS j,
        |    CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || '-' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS bucket,
        |    CAST(sum(c) AS BIGINT) AS cnt
        |  FROM freq, range(5) j(j) GROUP BY 1, 2
        |), cr AS (SELECT j, CAST(sum(cnt * cnt) AS BIGINT) AS sq FROM cb GROUP BY 1),
        |cmse AS (SELECT CAST(min(sq) AS BIGINT) AS cms_est FROM cr),
        |am AS (
        |  SELECT j.j AS j, CAST(sum(
        |    ((CAST(('0x' || substr(md5('s' || CAST(j.j AS VARCHAR) || '-' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) & 1) * 2 - 1) * c
        |  ) AS BIGINT) AS s
        |  FROM freq, range(5) j(j) GROUP BY 1
        |), amse AS (
        |  SELECT CAST((list_sort(list(s * s)))[3] AS BIGINT) AS ams_est FROM am
        |)
        |SELECT n_rows, n_keys, f2_exact, cms_est, ams_est,
        |  CAST((abs(cms_est - f2_exact) * 20000 + f2_exact) // (2 * greatest(f2_exact, 1)) AS BIGINT) AS cms_err_bps,
        |  CAST((abs(ams_est - f2_exact) * 20000 + f2_exact) // (2 * greatest(f2_exact, 1)) AS BIGINT) AS ams_err_bps
        |FROM ex, cmse, amse""".stripMargin),
    Query("f2_width_sweep") { (s, dir) =>
      // The CMS width knob behind selfjoin_size_sketch's 5.7x overshoot,
      // measured as a curve: per w in {256,1k,4k,16k} the min-over-rows
      // inner product and its error bps vs the exact moment — the n²/w
      // additive term should quarter per 4x width; the curve shows where
      // the estimate becomes decision-grade on THIS key distribution.
      // One frequency aggregation serves all four widths
      // (ops/HeavyHitters.scala).
      graft.ops.HeavyHitters.f2WidthSweep(eventsTable(s, dir), "user_id")
    }.oracle({
      val legs = Seq(256, 1024, 4096, 16384).map { w =>
        s"""SELECT CAST($w AS INT) AS width,
           |  (SELECT f2 FROM fex) AS f2_exact,
           |  CAST(min(sq) AS BIGINT) AS cms_est,
           |  CAST((abs(min(sq) - (SELECT f2 FROM fex)) * 20000 + (SELECT f2 FROM fex))
           |    // (2 * greatest((SELECT f2 FROM fex), 1)) AS BIGINT) AS cms_err_bps
           |FROM (
           |  SELECT j, CAST(sum(cnt * cnt) AS BIGINT) AS sq FROM (
           |    SELECT j.j AS j,
           |      CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || '-' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % $w AS bucket,
           |      CAST(sum(c) AS BIGINT) AS cnt
           |    FROM wfreq, range(5) j(j) GROUP BY 1, 2
           |  ) GROUP BY j
           |)""".stripMargin
      }
      s"""WITH wfreq AS MATERIALIZED (
        |  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
        |), fex AS (
        |  SELECT CAST(sum(c * c) AS BIGINT) AS f2 FROM wfreq
        |)
        |${legs.mkString("\nUNION ALL\n")}""".stripMargin
    }),
    Query("neyman_allocation") { (s, dir) =>
      // Optimal stratified-sampling allocation over event-type strata
      // (value = exact cents): n_h·sigma_h weights vs the naive
      // proportional split — high-variance strata get the budget; one
      // corpus aggregation + strata-bounded arithmetic, single IEEE
      // sqrt per stratum (ops/Sampling.scala).
      graft.ops.Sampling.neymanAllocation(
        eventsTable(s, dir).select(col("event_type"), cents(col("value")).as("cents")),
        "event_type", "cents")
    }.oracle(
      """WITH e AS (
        |  SELECT event_type AS stratum,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |), c AS (
        |  SELECT stratum, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(cents) AS HUGEINT) AS s,
        |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS ss
        |  FROM e GROUP BY 1
        |), v AS (
        |  SELECT stratum, n,
        |    (2 * 1000000 * (n * ss - s * s) + n * n) // (2 * n * n) AS var_micro
        |  FROM c
        |), sg AS (
        |  SELECT stratum, CAST(n AS BIGINT) AS n, CAST(var_micro AS BIGINT) AS var_micro,
        |    CAST(floor(sqrt(CAST(var_micro AS DOUBLE)) + 0.5) AS BIGINT) AS sigma_x1000
        |  FROM v
        |), t AS (
        |  SELECT CAST(sum(n) AS HUGEINT) AS n_total,
        |    CAST(sum(n * sigma_x1000) AS HUGEINT) AS w_total
        |  FROM sg
        |)
        |SELECT stratum, n, sigma_x1000,
        |  CAST((2 * 10000 * CAST(n AS HUGEINT) + t.n_total) // (2 * t.n_total) AS BIGINT)
        |    AS alloc_proportional,
        |  CAST(CASE WHEN t.w_total > 0
        |    THEN (2 * 10000 * CAST(n AS HUGEINT) * sigma_x1000 + t.w_total)
        |      // (2 * t.w_total)
        |    ELSE (2 * 10000 * CAST(n AS HUGEINT) + t.n_total) // (2 * t.n_total)
        |    END AS BIGINT) AS alloc_neyman
        |FROM sg, t""".stripMargin),
    Query("user_value_trend") { (s, dir) =>
      // Theil–Sen robust spend trend per user: median pairwise slope over
      // a deterministic md5-ranked sample — one outlier bends OLS, moves
      // this by one rank; pairs generate executor-side from the sorted
      // sample array, never a join (ops/Robust.scala).
      val ev = eventsTable(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_ms"), cents(col("value")).as("cents"))
      graft.ops.Robust.theilSenSlope(ev, "user_id", "event_id", "ts_ms", "cents", maxN = 64)
    }.oracle(
      // same md5-ranked sample, same pair set (all ts-distinct unordered
      // pairs of the sample), same banded double slope, same lower median
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '-' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM events
        |), s AS (
        |  SELECT user_id, ms, v FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY h, event_id) AS rn FROM e)
        |  WHERE rn <= 64
        |), np AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_points FROM s GROUP BY 1),
        |p AS (
        |  SELECT a.user_id,
        |    CAST(floor(CAST(b.v - a.v AS DOUBLE) * 8.64e13 / CAST(b.ms - a.ms AS DOUBLE) + 0.5e0) AS BIGINT) AS slope
        |  FROM s a JOIN s b ON a.user_id = b.user_id AND a.ms < b.ms
        |), r AS (
        |  SELECT user_id, slope,
        |    row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS npair
        |  FROM p
        |)
        |SELECT r.user_id, np.n_points, CAST(max(r.npair) AS BIGINT) AS n_pairs,
        |  max(CASE WHEN r.rn = (r.npair + 1) // 2 THEN r.slope END) AS slope_micro_per_day
        |FROM r JOIN np ON np.user_id = r.user_id
        |GROUP BY 1, 2""".stripMargin),
    Query("ab_chi_square") { (s, dir) =>
      // A/B cohort independence: per-cell chi-square decomposition of
      // cohort (user_id parity) x event_type, exact integer rationals in
      // micro units — one corpus aggregation, then broadcast-only math on
      // the R x C cell frame (ops/Contingency.scala).
      graft.ops.Contingency
        .chiSquareCells(
          eventsTable(s, dir)
            .select(pmod(col("user_id"), lit(2L)).cast("int").as("cohort"), col("event_type")),
          "cohort", "event_type")
        .orderBy(col("cohort"), col("event_type"))
    }.oracle(
      """WITH e AS (
        |  SELECT CAST(user_id % 2 AS INT) AS cohort, event_type FROM events
        |), cells AS (
        |  SELECT cohort, event_type, CAST(count(*) AS HUGEINT) AS o FROM e GROUP BY 1, 2
        |), rt AS (SELECT cohort, sum(o) AS r FROM cells GROUP BY 1
        |), ct AS (SELECT event_type, sum(o) AS c FROM cells GROUP BY 1
        |), t AS (SELECT sum(o) AS n FROM cells)
        |SELECT cells.cohort, cells.event_type, CAST(o AS BIGINT) AS observed,
        |  CAST((r * c * 2000000 + n) // (2 * n) AS BIGINT) AS expected_micro,
        |  CAST(((o * n - r * c) * (o * n - r * c) * 2000000 + n * r * c) // (2 * n * r * c) AS BIGINT) AS term_micro
        |FROM cells, rt, ct, t
        |WHERE cells.cohort = rt.cohort AND cells.event_type = ct.event_type
        |ORDER BY 1, 2""".stripMargin),
    Query("value_ols_trend") { (s, dir) =>
      // Exact closed-form OLS trend of event value over time per
      // event_type: integer epoch-day x, micro-scaled y, all five sums
      // exact in DECIMAL(38,0), one hash aggregation — the full-data
      // complement to the Theil-Sen robust slope (ops/Regression.scala).
      val ev = eventsTable(s, dir).select(
        col("event_type"),
        // epoch day from the canonical epoch-nanos ts (nonnegative, so
        // DIV truncation == floor — same integer the oracle derives)
        expr("ts DIV 86400000000000").cast("long").as("x"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("y"))
      graft.ops.Regression
        .groupedOls(ev, Seq("event_type"), col("x"), col("y"))
        .orderBy(col("event_type"))
    }.oracle(
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(epoch_ms(ts) // 86400000 AS HUGEINT) AS x,
        |    CAST(floor(value * 1000000 + 0.5e0) AS HUGEINT) AS y
        |  FROM events
        |), a AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM p GROUP BY 1
        |), q AS (
        |  -- round-half-up of an exact rational with FLOOR division (DuckDB
        |  -- // truncates toward zero, so strip a nonnegative remainder
        |  -- first): floor((2*num + den) / (2*den))
        |  SELECT event_type, n,
        |    n * sxy - sx * sy AS bnum, sy * sxx - sx * sxy AS anum,
        |    n * sxx - sx * sx AS den
        |  FROM a WHERE n * sxx - sx * sx > 0
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST((2 * bnum + den - (((2 * bnum + den) % (2 * den)) + 2 * den) % (2 * den)) // (2 * den) AS BIGINT) AS slope_micro,
        |  CAST((2 * anum + den - (((2 * anum + den) % (2 * den)) + 2 * den) % (2 * den)) // (2 * den) AS BIGINT) AS intercept_micro
        |FROM q ORDER BY event_type""".stripMargin),
    Query("ab_ks_value") { (s, dir) =>
      // Two-sample KS over the value distribution of the two user-parity
      // cohorts: exact sup|F0-F1| in micro units via the distributed-CDF
      // primitive (range-partitioned prefix sums, no unpartitioned
      // window) (ops/Contingency.scala).
      graft.ops.Contingency.ksTwoSample(
        eventsTable(s, dir).select(
          pmod(col("user_id"), lit(2L)).cast("int").as("cohort"),
          cents(col("value")).as("cents")),
        "cohort", "cents")
    }.oracle(
      """WITH e AS (
        |  SELECT CAST(user_id % 2 AS INT) AS g,
        |    CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS cents
        |  FROM events
        |), c AS (
        |  SELECT cents,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS c0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS c1
        |  FROM e GROUP BY 1
        |), cum AS (
        |  SELECT cents, sum(c0) OVER (ORDER BY cents) AS s0,
        |    sum(c1) OVER (ORDER BY cents) AS s1
        |  FROM c
        |), t AS (SELECT CAST(sum(c0) AS HUGEINT) AS n0, CAST(sum(c1) AS HUGEINT) AS n1 FROM c
        |), dv AS (SELECT cents, abs(s0 * n1 - s1 * n0) AS num FROM cum, t
        |), best AS (SELECT cents, num FROM dv ORDER BY num DESC, cents LIMIT 1)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |  CAST((num * 2000000 + n0 * n1) // (2 * n0 * n1) AS BIGINT) AS d_micro,
        |  best.cents AS at_value
        |FROM best, t""".stripMargin),
    Query("value_quantiles_exact") { (s, dir) =>
      // Exact corpus quantiles with NO single-task sort: distinct-value
      // counts → distributed CDF → nearest-rank selection by cumulative
      // threshold — the scale path for exact percentiles
      // (ops/Robust.scala exactQuantilesCdf).
      graft.ops.Robust.exactQuantilesCdf(
        eventsTable(s, dir).select(cents(col("value")).as("cents")),
        "cents", Seq(25, 50, 75, 99))
    }.oracle(
      """WITH e AS (SELECT CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS cents FROM events),
        |c AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
        |cum AS (SELECT cents, CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cc FROM c),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
        |p AS (SELECT CAST(unnest([25, 50, 75, 99]) AS INT) AS pct),
        |r AS (SELECT pct, CAST((pct * n + 99) // 100 AS BIGINT) AS rank FROM p, t)
        |SELECT pct, rank, min(cents) AS cents
        |FROM r JOIN cum ON cum.cc >= r.rank
        |GROUP BY pct, rank ORDER BY pct""".stripMargin),
    Query("quantile_sketch_error") { (s, dir) =>
      // The mergeable-sketch member of the quantile family, GRADED: a
      // width-w cell-count histogram (merges by addition across shards)
      // vs the exact CDF at p50/p90/p99, with the w−1 error guarantee
      // and the sketch's cell count as its memory cost — the
      // error-vs-memory sizing curve, same discipline as
      // hll_error_report/cms_error_report (ops/Robust.scala). One corpus
      // pass; every width re-grids the distinct-value frame.
      graft.ops.Robust.quantileSketchError(
        eventsTable(s, dir).select(cents(col("value")).as("cents")), "cents")
    }.oracle(quantileSketchOracle(Seq(1L, 10L, 100L, 1000L), Seq(50, 90, 99))),
    Query("value_bootstrap_ci") { (s, dir) =>
      // Poisson bootstrap of the mean value per event_type: 32
      // deterministic md5-hash replicates (integer CDF thresholds — no
      // runtime float), exact-rational replicate means, nearest-rank
      // p10/p50/p90 over the 32 means (ops/Bootstrap.scala).
      graft.ops.Bootstrap
        .bootstrapMeanCi(
          eventsTable(s, dir).select(
            col("event_type"), col("event_id"), cents(col("value")).as("cents")),
          Seq("event_type"), "event_id", "cents")
        .orderBy(col("event_type"))
    }.oracle(
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS cents
        |  FROM events
        |), reps AS (SELECT unnest(range(32)) AS rep),
        |h AS (
        |  -- one digest carries 4 replicate hashes: slot rep%4 of group rep//4
        |  SELECT event_type, rep, cents,
        |    CAST(('0x' || substr(md5('bs-' || (rep // 4) || '-' || event_id),
        |                         CAST(1 + 8 * (rep % 4) AS INT), 8)) AS BIGINT) AS hv
        |  FROM e, reps
        |), ww AS (
        |  SELECT event_type, rep, cents,
        |    (CASE WHEN hv >= 1580030168 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 3160060337 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 3950075421 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 4213413783 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 4279248373 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 4292415291 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 4294609777 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 4294923276 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 4294962463 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 4294966817 THEN 1 ELSE 0 END) +
        |    (CASE WHEN hv >= 4294967252 THEN 1 ELSE 0 END) AS wgt
        |  FROM h
        |), m AS (
        |  SELECT event_type, rep, CAST(sum(wgt) AS BIGINT) AS n_eff,
        |    CAST(sum(wgt * cents) AS BIGINT) AS wy
        |  FROM ww GROUP BY 1, 2
        |), mm AS (
        |  SELECT event_type, rep, (wy * 20000 + n_eff) // (2 * n_eff) AS mean_s
        |  FROM m WHERE n_eff > 0
        |), r AS (
        |  SELECT event_type, mean_s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY mean_s, rep) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS nr
        |  FROM mm
        |)
        |SELECT event_type, CAST(max(nr) AS BIGINT) AS n_reps,
        |  CAST(max(CASE WHEN rk = (10 * nr + 99) // 100 THEN mean_s END) AS BIGINT) AS p10_micro,
        |  CAST(max(CASE WHEN rk = (50 * nr + 99) // 100 THEN mean_s END) AS BIGINT) AS p50_micro,
        |  CAST(max(CASE WHEN rk = (90 * nr + 99) // 100 THEN mean_s END) AS BIGINT) AS p90_micro
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("funnel_lag_quantiles") { (s, dir) =>
      // Time-to-convert distribution: first view → first click after it
      // per user, exact p25/p50/p75/p90 of the lag via the distributed
      // CDF (no single-task sort) (ops/Robust.scala exactQuantilesCdf).
      val ev = eventsTable(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("vts"))
      val lags = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
        .join(views, "user_id")
        .filter(col("ts") > col("vts"))
        .groupBy(col("user_id"), col("vts")).agg(min(col("ts")).as("cts"))
        .select(expr("(cts - vts) div 1000000000").as("lag_s"))
      graft.ops.Robust.exactQuantilesCdf(lags, "lag_s", Seq(25, 50, 75, 90))
    }.oracle(
      """WITH v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS vts FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), fc AS (
        |  SELECT e.user_id, v.vts, min(epoch_us(e.ts)) AS cts
        |  FROM events e JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.vts
        |  WHERE e.event_type = 'click' GROUP BY 1, 2
        |), l AS (SELECT (cts - vts) // 1000000 AS lag_s FROM fc
        |), c AS (SELECT lag_s, CAST(count(*) AS BIGINT) AS cnt FROM l GROUP BY 1
        |), cum AS (SELECT lag_s, CAST(sum(cnt) OVER (ORDER BY lag_s) AS BIGINT) AS cc FROM c
        |), t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c
        |), p AS (SELECT CAST(unnest([25, 50, 75, 90]) AS INT) AS pct
        |), r AS (SELECT pct, CAST((pct * n + 99) // 100 AS BIGINT) AS rank FROM p, t)
        |SELECT pct, rank, min(lag_s) AS lag_s
        |FROM r JOIN cum ON cum.cc >= r.rank
        |GROUP BY pct, rank ORDER BY pct""".stripMargin),
    Query("attribution_last_touch") { (s, dir) =>
      // Last-touch revenue attribution: each purchase credits the user's
      // most recent PRIOR event's type ('direct' if none). One
      // user-partitioned window over the interleaved event sequence —
      // no purchase x touch join anywhere.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      eventsTable(s, dir)
        .select(
          col("user_id"), col("event_id"), col("ts"),
          col("event_type"), cents(col("value")).as("c"))
        .withColumn(
          "touch",
          last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("direct")).as("touch_type"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(col("c")).as("revenue_cents"))
        .orderBy(col("touch_type"))
    }.oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type,
        |    CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c
        |  FROM events
        |), p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, event_id, tus, event_type FROM e WHERE event_type <> 'purchase'),
        |lastt AS (
        |  SELECT event_id, touch FROM (
        |    SELECT p.event_id, t.event_type AS touch,
        |      row_number() OVER (PARTITION BY p.event_id ORDER BY t.tus DESC, t.event_id DESC) AS rk
        |    FROM p JOIN tch t ON p.user_id = t.user_id
        |      AND (t.tus < p.tus OR (t.tus = p.tus AND t.event_id < p.event_id))
        |  ) WHERE rk = 1
        |)
        |SELECT coalesce(l.touch, 'direct') AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(p.c) AS BIGINT) AS revenue_cents
        |FROM p LEFT JOIN lastt l ON p.event_id = l.event_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("attribution_linear") { (s, dir) =>
      // Linear multi-touch attribution: each purchase's revenue splits
      // equally across the user's touches since their previous purchase
      // (a touch credits only the NEXT purchase). Purchase-sequence ids
      // come from ONE user-keyed running count over the interleaved
      // sequence; the credit joins are co-partitioned (user, seq)
      // equi-joins — never a purchase × all-prior-touches blowup.
      // Per-touch credit is exact round-half-up micro-cents.
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val seqd = eventsTable(s, dir)
        .select(
          col("user_id"), col("event_id"), col("ts"),
          col("event_type"), cents(col("value")).as("c"))
        .withColumn(
          "pseq",
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w))
      val purchases = seqd
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("pseq"), col("c"))
      val touches = seqd
        .filter(col("event_type") =!= "purchase")
        .select(col("user_id"), (col("pseq") + 1L).as("pseq"), col("event_type"))
      val k = touches.groupBy("user_id", "pseq").agg(count(lit(1)).as("k"))
      touches
        .join(k, Seq("user_id", "pseq"))
        .join(purchases, Seq("user_id", "pseq")) // orphan touches (no later purchase) drop
        .groupBy(col("event_type").as("touch_type"))
        .agg(
          count(lit(1)).as("n_touches"),
          sum(graft.functions.ExactDecimal.scaledRatio(col("c"), col("k")))
            .cast("long")
            .as("credit_microcents"))
    }.oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS pseq
        |  FROM events
        |), p AS (SELECT user_id, pseq, c FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, pseq + 1 AS pseq, event_type
        |      FROM e WHERE event_type <> 'purchase'),
        |k AS (SELECT user_id, pseq, CAST(count(*) AS BIGINT) AS kk
        |      FROM t GROUP BY 1, 2)
        |SELECT t.event_type AS touch_type, CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum((2000000 * p.c + k.kk) // (2 * k.kk)) AS BIGINT) AS credit_microcents
        |FROM t
        |JOIN k ON k.user_id = t.user_id AND k.pseq = t.pseq
        |JOIN p ON p.user_id = t.user_id AND p.pseq = t.pseq
        |GROUP BY 1""".stripMargin),
    Query("event_lift_matrix") { (s, dir) =>
      // Market-basket lift over (user, event_type) presence sets: which
      // behaviors travel together beyond their individual popularity.
      // One user-keyed set aggregation (sets capped by the event-type
      // vocabulary), then everything is K-bounded (ops/Cooccur.scala).
      graft.ops.Cooccur.itemLift(eventsTable(s, dir), "user_id", "event_type")
    }.oracle(
      """WITH b AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |), nb AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_baskets FROM b),
        |ic AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |pc AS (
        |  SELECT a.event_type AS item_a, b2.event_type AS item_b,
        |    CAST(count(*) AS BIGINT) AS c_ab
        |  FROM b a JOIN b b2 ON a.user_id = b2.user_id AND a.event_type < b2.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT item_a, item_b, n_baskets, ca.c AS c_a, cb.c AS c_b, c_ab,
        |  CAST((20000 * c_ab + n_baskets) // (2 * n_baskets) AS BIGINT) AS support_bps,
        |  CAST((2000000 * n_baskets * c_ab + ca.c * cb.c) // (2 * ca.c * cb.c)
        |    AS BIGINT) AS lift_micro
        |FROM pc
        |JOIN ic ca ON ca.event_type = pc.item_a
        |JOIN ic cb ON cb.event_type = pc.item_b
        |CROSS JOIN nb""".stripMargin),
    Query("markov_stationary") { (s, dir) =>
      // Long-run event-type share under the observed transition matrix:
      // six exact power-iteration steps over the K-bounded transition
      // counts (driver-side on a <= K^2 frame — the corpus-sized work is
      // the single eventTransitions pass; ops/Cohort.scala).
      graft.ops.Cohort.markovStationary(eventsTable(s, dir))
    }.oracle(MarkovStationaryOracle),
    Query("attribution_position") { (s, dir) =>
      // U-shaped (position-based) attribution: within each purchase's
      // touch window (same purchase-sequence bracketing as
      // attribution_linear), first and last touch get 40% each, middles
      // split the remaining 20%; k=1 takes all, k=2 splits 50/50. Exact
      // round-half-up micro-cents per touch; two user-keyed windows and
      // one co-partitioned join — no purchase x touch blowup.
      import graft.functions.ExactDecimal.scaledRatio
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val seqd = eventsTable(s, dir)
        .select(
          col("user_id"), col("event_id"), col("ts"),
          col("event_type"), cents(col("value")).as("c"))
        .withColumn(
          "pseq",
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w))
      val purchases = seqd
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("pseq"), col("c"))
      val touches = seqd
        .filter(col("event_type") =!= "purchase")
        .select(
          col("user_id"), (col("pseq") + 1L).as("pseq"),
          col("event_type"), col("ts"), col("event_id"))
      val wt = Window.partitionBy("user_id", "pseq")
        .orderBy(col("ts").asc, col("event_id").asc)
      val wk = Window.partitionBy("user_id", "pseq")
      touches
        .withColumn("rn", row_number().over(wt).cast("long"))
        .withColumn("k", count(lit(1)).over(wk))
        .join(purchases, Seq("user_id", "pseq"))
        .withColumn(
          "credit",
          when(col("k") === 1, scaledRatio(col("c"), lit(1L)))
            .when(col("k") === 2, scaledRatio(col("c"), lit(2L)))
            .when(col("rn") === 1 || col("rn") === col("k"),
              scaledRatio(col("c") * 2L, lit(5L)))
            .otherwise(scaledRatio(col("c"), (col("k") - 2L) * 5L)))
        .groupBy(col("event_type").as("touch_type"))
        .agg(
          count(lit(1)).as("n_touches"),
          sum(col("credit")).cast("long").as("credit_microcents"))
    }.oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS pseq
        |  FROM events
        |), p AS (SELECT user_id, pseq, c FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, pseq + 1 AS pseq, event_type, ts, event_id
        |      FROM e WHERE event_type <> 'purchase'),
        |pos AS (
        |  SELECT user_id, pseq, event_type,
        |    CAST(row_number() OVER (PARTITION BY user_id, pseq ORDER BY ts, event_id)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id, pseq) AS BIGINT) AS kk
        |  FROM t
        |)
        |SELECT pos.event_type AS touch_type, CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(CASE
        |    WHEN kk = 1 THEN (2000000 * p.c + 1) // 2
        |    WHEN kk = 2 THEN (2000000 * p.c + 2) // 4
        |    WHEN rn = 1 OR rn = kk THEN (2000000 * p.c * 2 + 5) // 10
        |    ELSE (2000000 * p.c + 5 * (kk - 2)) // (10 * (kk - 2)) END) AS BIGINT)
        |    AS credit_microcents
        |FROM pos
        |JOIN p ON p.user_id = pos.user_id AND p.pseq = pos.pseq
        |GROUP BY 1""".stripMargin),
    Query("ab_mann_whitney") { (s, dir) =>
      // Rank-based location test over the two user-parity cohorts'
      // values: doubled tie-midrank U statistic, its mean, and the
      // tie-corrected variance — all exact integers on the distributed
      // CDF, no single-task window anywhere (ops/Contingency.scala).
      graft.ops.Contingency.mannWhitney(
        eventsTable(s, dir).select(
          pmod(col("user_id"), lit(2L)).cast("int").as("cohort"),
          cents(col("value")).as("cents")),
        "cohort", "cents")
    }.oracle(
      """WITH e AS (
        |  SELECT CAST(user_id % 2 AS INT) AS cohort,
        |    CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS cents
        |  FROM events
        |), c AS (
        |  SELECT cents,
        |    CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS c0,
        |    CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS c1
        |  FROM e GROUP BY 1
        |), r AS (
        |  SELECT c0, c1, c0 + c1 AS g,
        |    2 * (sum(c0 + c1) OVER (ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) - (c0 + c1)) + (c0 + c1) + 1 AS r2
        |  FROM c
        |), a AS (
        |  SELECT sum(c0) AS n0, sum(c1) AS n1, sum(c0 * r2) AS r0x2,
        |    sum(g * g * g - g) AS ties
        |  FROM r
        |), q AS (SELECT n0, n1, r0x2, ties, n0 + n1 AS n FROM a)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |  CAST(r0x2 - n0 * (n0 + 1) AS BIGINT) AS u2_statistic,
        |  CAST(n0 * n1 AS BIGINT) AS mu2,
        |  CAST(CASE WHEN n * (n - 1) > 0 THEN
        |    (2 * n0 * n1 * ((n + 1) * n * (n - 1) - ties) + 12 * n * (n - 1))
        |      // (24 * n * (n - 1))
        |    END AS BIGINT) AS var_units
        |FROM q""".stripMargin),
    Query("ab_cuped") { (s, dir) =>
      // CUPED variance reduction (Deng et al.): per-user pre-period spend
      // is the covariate, experiment-period spend the metric, arms =
      // user_id % 2; pooled exact-rational theta, per-arm raw vs ADJUSTED
      // means, and rho2 = the fraction of metric variance the covariate
      // removes (ops/Contingency.scala).
      val mid = 1705276800000L // same pre/post split as user_retention_sets
      val perUser = eventsTable(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts_ms") < mid, cents(col("value"))).otherwise(0L)).as("x"),
          sum(when(col("ts_ms") >= mid, cents(col("value"))).otherwise(0L)).as("y"))
        .select(pmod(col("user_id"), lit(2L)).cast("int").as("cohort"), col("x"), col("y"))
      graft.ops.Contingency.cupedSummary(perUser)
    }.oracle(
      """WITH pu AS (
        |  SELECT user_id % 2 AS cohort,
        |    CAST(sum(CASE WHEN epoch_ms(ts) < 1705276800000
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS HUGEINT) AS x,
        |    CAST(sum(CASE WHEN epoch_ms(ts) >= 1705276800000
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS HUGEINT) AS y
        |  FROM events GROUP BY user_id
        |), pool AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM pu
        |), der AS (
        |  SELECT n, sx, n * sxy - sx * sy AS ncov,
        |    n * sxx - sx * sx AS nvarx, n * syy - sy * sy AS nvary
        |  FROM pool
        |), th AS (
        |  SELECT *, CASE WHEN nvarx > 0 THEN
        |    (2*1000000*ncov + nvarx
        |      - (((2*1000000*ncov + nvarx) % (2*nvarx)) + 2*nvarx) % (2*nvarx)) // (2*nvarx)
        |    END AS theta_micro
        |  FROM der
        |), th2 AS (
        |  SELECT *, CASE WHEN nvary > 0 THEN
        |    (2*theta_micro*ncov + nvary
        |      - (((2*theta_micro*ncov + nvary) % (2*nvary)) + 2*nvary) % (2*nvary)) // (2*nvary)
        |    END AS rho2_micro
        |  FROM th
        |), arms AS (
        |  SELECT cohort, CAST(count(*) AS HUGEINT) AS n_a,
        |    sum(x) AS sx_a, sum(y) AS sy_a
        |  FROM pu GROUP BY cohort
        |)
        |SELECT CAST(a.cohort AS INT) AS cohort, CAST(a.n_a AS BIGINT) AS n_users,
        |  CAST((2*1000000*a.sy_a + a.n_a
        |    - (((2*1000000*a.sy_a + a.n_a) % (2*a.n_a)) + 2*a.n_a) % (2*a.n_a)) // (2*a.n_a)
        |    AS BIGINT) AS mean_y_micro,
        |  CAST(CASE WHEN t.nvarx > 0 THEN
        |    (2*1000000*(a.sy_a*t.nvarx*t.n - t.ncov*(a.sx_a*t.n - t.sx*a.n_a))
        |       + a.n_a*t.nvarx*t.n
        |      - (((2*1000000*(a.sy_a*t.nvarx*t.n - t.ncov*(a.sx_a*t.n - t.sx*a.n_a))
        |           + a.n_a*t.nvarx*t.n) % (2*a.n_a*t.nvarx*t.n)) + 2*a.n_a*t.nvarx*t.n)
        |        % (2*a.n_a*t.nvarx*t.n)) // (2*a.n_a*t.nvarx*t.n)
        |    END AS BIGINT) AS mean_adj_micro,
        |  CAST(t.theta_micro AS BIGINT) AS theta_micro,
        |  CAST(t.rho2_micro AS BIGINT) AS rho2_micro
        |FROM arms a, th2 t""".stripMargin),
    Query("ab_stratified_ate") { (s, dir) =>
      // Stratification-adjusted effect of self-selected signup on total
      // spend, strata = log2 activity buckets (explicit CASE — no float
      // log): per-stratum arm cells + exact micro mean differences, and
      // the weighted adjusted effect on the stratum = −1 row — the
      // confounding fix simpson_audit motivates
      // (ops/Contingency.scala).
      val perUser = eventsTable(s, dir)
        .groupBy(col("user_id"))
        .agg(
          max((col("event_type") === "signup").cast("int")).as("t"),
          sum(cents(col("value"))).as("y"),
          count(lit(1)).as("n"))
        .withColumn("stratum", expr(
          "CASE WHEN n >= 64 THEN 6 WHEN n >= 32 THEN 5 WHEN n >= 16 THEN 4" +
            " WHEN n >= 8 THEN 3 WHEN n >= 4 THEN 2 WHEN n >= 2 THEN 1 ELSE 0 END"))
      graft.ops.Contingency.stratifiedAte(perUser)
    }.oracle(
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS t,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS y,
        |    count(*) AS n
        |  FROM events GROUP BY 1
        |), un AS (
        |  SELECT t, y,
        |    CASE WHEN n >= 64 THEN 6 WHEN n >= 32 THEN 5 WHEN n >= 16 THEN 4
        |      WHEN n >= 8 THEN 3 WHEN n >= 4 THEN 2 WHEN n >= 2 THEN 1 ELSE 0 END AS stratum
        |  FROM pu
        |), c AS (
        |  SELECT stratum,
        |    CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        |    CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
        |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS HUGEINT) AS sum_y1,
        |    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS HUGEINT) AS sum_y0
        |  FROM un GROUP BY 1
        |), ps AS (
        |  SELECT stratum, n1, n0, sum_y1, sum_y0,
        |    CASE WHEN n1 > 0 AND n0 > 0 THEN
        |      (q - ((q % dv) + dv) % dv) // dv END AS diff_micro
        |  FROM (SELECT *, 2000000 * (sum_y1 * n0 - sum_y0 * n1) + n1 * n0 AS q,
        |          2 * n1 * n0 AS dv FROM c)
        |), ov AS (
        |  SELECT CAST(-1 AS BIGINT) AS stratum,
        |    coalesce(sum(n1), 0) AS n1, coalesce(sum(n0), 0) AS n0,
        |    coalesce(sum(sum_y1), 0) AS sum_y1, coalesce(sum(sum_y0), 0) AS sum_y0,
        |    sum((n1 + n0) * diff_micro) AS wsum, sum(n1 + n0) AS nadj
        |  FROM ps WHERE diff_micro IS NOT NULL
        |), ov2 AS (
        |  SELECT stratum, n1, n0, sum_y1, sum_y0,
        |    CASE WHEN nadj > 0 THEN (q2 - ((q2 % dv2) + dv2) % dv2) // dv2 END AS diff_micro
        |  FROM (SELECT *, 2 * wsum + nadj AS q2, 2 * nadj AS dv2 FROM ov)
        |)
        |SELECT CAST(stratum AS BIGINT) AS stratum, CAST(n1 AS BIGINT) AS n1,
        |  CAST(n0 AS BIGINT) AS n0, CAST(sum_y1 AS BIGINT) AS sum_y1,
        |  CAST(sum_y0 AS BIGINT) AS sum_y0, CAST(diff_micro AS BIGINT) AS diff_micro
        |FROM (SELECT * FROM ps UNION ALL SELECT * FROM ov2)""".stripMargin),
    Query("simpson_audit") { (s, dir) =>
      // Aggregation-bias tripwire: does "high-activity users convert
      // more" reverse inside first-active-week cohorts? X = above-mean
      // event count (cross-multiplied, no division), Y = any purchase,
      // strata = cohort weeks; full 2×2 cells per stratum + pooled row,
      // reversal flagged by sign products only (ops/Contingency.scala).
      val ev = eventsTable(s, dir)
      val week = expr("((ts_ms div 86400000) - 4) div 7")
      val perUser = ev
        .select(
          col("user_id"), week.as("wk"),
          (col("event_type") === "purchase").cast("long").as("isp"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), max("isp").as("y"), min("wk").as("stratum"))
        .localCheckpoint(eager = true) // users-sized; feeds the mean AND the units
      val glob = perUser.agg(sum("n").as("tot"), count(lit(1)).as("nu"))
      val units = perUser
        .crossJoin(broadcast(glob)) // 1-row global-mean frame
        .select(
          col("stratum"),
          expr("CAST(n * nu > tot AS INT)").as("x"),
          col("y").cast("int").as("y"))
      graft.ops.Contingency.simpsonAudit(units)
    }.oracle(
      """WITH pu AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
        |    min(((epoch_ms(ts) // 86400000) - 4) // 7) AS stratum
        |  FROM events GROUP BY 1
        |), g AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS nu FROM pu),
        |un AS (
        |  SELECT stratum, CASE WHEN n * g.nu > g.tot THEN 1 ELSE 0 END AS x, y
        |  FROM pu, g
        |), st AS (
        |  SELECT stratum,
        |    CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |    0 AS is_overall
        |  FROM un GROUP BY 1
        |  UNION ALL
        |  SELECT -1,
        |    CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    1
        |  FROM un
        |), sg AS (
        |  SELECT *, CAST(CASE WHEN n11 + n10 = 0 OR n01 + n00 = 0 THEN 0
        |    ELSE sign(n11 * n00 - n10 * n01) END AS INT) AS diff_sign
        |  FROM st
        |), ov AS (SELECT diff_sign AS overall_sign FROM sg WHERE is_overall = 1)
        |SELECT stratum, n11, n10, n01, n00, is_overall, diff_sign, overall_sign,
        |  CAST(CASE WHEN is_overall = 0 AND diff_sign * overall_sign < 0
        |    THEN 1 ELSE 0 END AS INT) AS reversed
        |FROM sg, ov""".stripMargin),
    Query("ab_welch_t") { (s, dir) =>
      // Unequal-variance mean test over the same cohorts: exact-rational
      // mean difference and squared standard error in micro units, plus
      // an IEEE-deterministic t (division + sqrt only — no libm
      // transcendental, so no margin audit needed)
      // (ops/Contingency.scala).
      graft.ops.Contingency.welchT(
        eventsTable(s, dir).select(
          pmod(col("user_id"), lit(2L)).cast("int").as("cohort"),
          cents(col("value")).as("cents")),
        "cohort", "cents")
    }.oracle(
      """WITH e AS (
        |  SELECT CAST(user_id % 2 AS INT) AS cohort,
        |    CAST(floor(value * 100 + 0.5e0) AS HUGEINT) AS v
        |  FROM events
        |), a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
        |    CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        |    sum(CASE WHEN cohort = 0 THEN v ELSE 0 END) AS s0,
        |    sum(CASE WHEN cohort = 1 THEN v ELSE 0 END) AS s1,
        |    sum(CASE WHEN cohort = 0 THEN v * v ELSE 0 END) AS q0,
        |    sum(CASE WHEN cohort = 1 THEN v * v ELSE 0 END) AS q1
        |  FROM e
        |), q AS (
        |  SELECT n0, n1,
        |    s0 * n1 - s1 * n0 AS mdnum, n0 * n1 AS mdden,
        |    (n0 * q0 - s0 * s0) * n1 * n1 * (n1 - 1)
        |      + (n1 * q1 - s1 * s1) * n0 * n0 * (n0 - 1) AS senum,
        |    n0 * n0 * (n0 - 1) * n1 * n1 * (n1 - 1) AS seden
        |  FROM a
        |), m AS (
        |  SELECT n0, n1,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      (2000000 * mdnum + mdden
        |        - (((2000000 * mdnum + mdden) % (2 * mdden)) + 2 * mdden) % (2 * mdden))
        |        // (2 * mdden) END AS md,
        |    CASE WHEN n0 > 1 AND n1 > 1 THEN
        |      (2000000 * senum + seden) // (2 * seden) END AS se2
        |  FROM q
        |)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |  CAST(md AS BIGINT) AS mean_diff_micro,
        |  CAST(se2 AS BIGINT) AS se2_micro,
        |  CAST(CASE WHEN se2 > 0 THEN floor(
        |    CAST(md AS DOUBLE) / sqrt(CAST(se2 AS DOUBLE) * 1000000.0e0) * 1000.0e0
        |      + 0.5e0) END AS BIGINT) AS t_milli
        |FROM m""".stripMargin),
    Query("dp_rr_purchase_share") { (s, dir) =>
      // Local-DP purchase share per day via Warner randomized response
      // (p = 3/4 ⇒ ε = ln 3): seeded-md5 deterministic coin flips each
      // event's sensitive bit, exact-rational debias recovers the
      // population share; map-only + one aggregation
      // (ops/Integrity.scala).
      val ev = eventsTable(s, dir).withColumn("day", expr("ts_ms DIV 86400000"))
      graft.ops.Integrity.randomizedResponse(
        ev, "event_id", col("event_type") === "purchase", "day", seed = "rr11")
    }.oracle(
      """WITH r AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s,
        |    CAST(('0x' || substr(md5('rr11' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u
        |  FROM events
        |), rep AS (
        |  SELECT day, CASE WHEN u < 3221225472 THEN s ELSE 1 - s END AS rp FROM r
        |), g AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n, CAST(sum(rp) AS BIGINT) AS n_reported
        |  FROM rep GROUP BY 1
        |), q AS (
        |  SELECT day, n, n_reported,
        |    2000000 * (4 * n_reported - n) + 2 * n AS q, 4 * n AS dv
        |  FROM g
        |)
        |SELECT day, n, n_reported,
        |  CAST((q - ((q % dv) + dv) % dv) // dv AS BIGINT) AS pi_hat_micro
        |FROM q""".stripMargin),
    Query("hbos_outliers") { (s, dir) =>
      // Histogram-based outlier screen over (value bucket, hour-of-day):
      // rare feature combinations score high under independence; exact
      // micro ln terms, feature-bounded broadcast histograms, TakeOrdered
      // top-20 (ops/Robust.scala).
      graft.ops.Robust.hbosOutliers(
        eventsTable(s, dir).select(
          col("event_id"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 5000").as("value_bucket"),
          expr("(ts_ms div 3600000) % 24").as("hour_utc")),
        "event_id", Seq("value_bucket", "hour_utc"), k = 20)
    }.oracle(
      """WITH f AS (
        |  SELECT event_id,
        |    CAST(floor(value * 100 + 0.5e0) AS BIGINT) // 5000 AS value_bucket,
        |    (epoch_ms(ts) // 3600000) % 24 AS hour_utc
        |  FROM events
        |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
        |h1 AS (SELECT value_bucket, CAST(count(*) AS BIGINT) AS c1 FROM f GROUP BY 1),
        |h2 AS (SELECT hour_utc, CAST(count(*) AS BIGINT) AS c2 FROM f GROUP BY 1)
        |SELECT f.event_id, f.value_bucket, f.hour_utc,
        |  CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1e6 + 0.5e0) AS BIGINT)
        |    + CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c2 AS DOUBLE)) * 1e6 + 0.5e0) AS BIGINT)
        |    AS hbos_micro
        |FROM f JOIN h1 USING (value_bucket) JOIN h2 USING (hour_utc) CROSS JOIN tot
        |ORDER BY hbos_micro DESC, event_id LIMIT 20""".stripMargin),
    Query("weekly_conversion_rates") { (s, dir) =>
      // Per first-activity-week cohort: users, converters (ever
      // purchased), conversion in exact bps. Integer epoch-week buckets
      // (the ops/Cohort convention), two bounded aggregations.
      import graft.functions.ExactDecimal.scaledRatio
      eventsTable(s, dir)
        .groupBy(col("user_id"))
        .agg(
          expr("min((ts_ms div 86400000 - 4) div 7)").as("cohort_week"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
        .groupBy(col("cohort_week"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(col("converted")).as("n_converted"))
        .withColumn(
          "conversion_bps",
          scaledRatio(col("n_converted"), col("n_users"), 10000L).cast("long"))
    }.oracle(
      """WITH u AS (
        |  SELECT user_id, min((epoch_ms(ts) // 86400000 - 4) // 7) AS cohort_week,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY 1
        |)
        |SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(converted) AS BIGINT) AS n_converted,
        |  CAST((20000 * sum(converted) + count(*)) // (2 * count(*)) AS BIGINT)
        |    AS conversion_bps
        |FROM u GROUP BY 1""".stripMargin),
    Query("daily_rate_changepoint") { (s, dir) =>
      // When did the event level shift: best binary split of the daily
      // count series by between-segment sum of squares, argmax by exact
      // cross-multiplication — no float ordering (ops/Robust.scala).
      val daily = eventsTable(s, dir)
        .groupBy(expr("ts_ms div 86400000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.Robust.changePoint(daily, "day", "cnt")
    }.oracle(
      """WITH dser AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1
        |), cum AS (
        |  SELECT day, cnt,
        |    sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sk,
        |    row_number() OVER (ORDER BY day) AS k
        |  FROM dser
        |), tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(cnt) AS HUGEINT) AS s
        |           FROM dser),
        |cand AS (
        |  SELECT k, day AS split_at, n, s, CAST(sk AS HUGEINT) AS sk,
        |    (n * sk - k * s) * (n * sk - k * s) AS num, CAST(k AS HUGEINT) * (n - k) AS den
        |  FROM cum CROSS JOIN tot WHERE k < n
        |), best AS (
        |  SELECT * FROM cand x WHERE NOT EXISTS (
        |    SELECT 1 FROM cand y WHERE y.num * x.den > x.num * y.den
        |      OR (y.num * x.den = x.num * y.den AND y.k < x.k))
        |)
        |SELECT CAST(split_at AS BIGINT) AS split_at, CAST(k AS BIGINT) AS n_left,
        |  CAST(n - k AS BIGINT) AS n_right,
        |  CAST((2000 * sk + k) // (2 * k) AS BIGINT) AS left_mean_milli,
        |  CAST((2000 * (s - sk) + (n - k)) // (2 * (n - k)) AS BIGINT) AS right_mean_milli
        |FROM best""".stripMargin),
    Query("daily_drift_psi") { (s, dir) =>
      // Temporal drift: each day's event-type distribution vs the whole
      // log's, exact integer PSI terms (the proven psiFromCounts algebra
      // with day as the partition) — "did yesterday's traffic mix shift".
      val tc = eventsTable(s, dir)
        .select(expr("ts_ms div 86400000").as("src"), col("event_type").as("tok"))
        .groupBy("src", "tok")
        .agg(count(lit(1)).as("c_st"))
        .localCheckpoint(true)
      graft.ops.Drift.psiFromCounts(tc).withColumnRenamed("src", "day")
    }.oracle(
      s"""WITH tc AS (
        |  SELECT epoch_ms(ts) // 86400000 AS src, event_type AS tok,
        |    CAST(count(*) AS BIGINT) AS c_st
        |  FROM events GROUP BY 1, 2
        |), $PsiTermCtes
        |)
        |SELECT CAST(src AS BIGINT) AS day, max(n_s) AS n_tokens,
        |  CAST(sum(term_e5) AS BIGINT) AS psi_e5
        |FROM terms GROUP BY src""".stripMargin),
    Query("cumulative_unique_users") { (s, dir) =>
      // Exact users-to-date per day via the first-seen-day trick: one
      // user aggregation, one day aggregation, prefix sums on the
      // day-bounded frame — never a rolling distinct over raw rows. Days
      // where no NEW user appears have no row (the oracle mirrors).
      val newPerDay = eventsTable(s, dir)
        .groupBy(col("user_id"))
        .agg(expr("min(ts_ms div 86400000)").as("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_new_users"))
      graft.ops.Ranking
        .runningTotals(newPerDay, Seq(col("day").asc), Seq("n_new_users"))
        .select(
          col("day"),
          col("n_new_users"),
          col("cum_n_new_users").cast("long").as("n_cum_users"))
    }.oracle(
      """WITH fd AS (
        |  SELECT user_id, min(epoch_ms(ts) // 86400000) AS day FROM events GROUP BY 1
        |), pd AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new_users FROM fd GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day, n_new_users,
        |  CAST(sum(n_new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS n_cum_users
        |FROM pd""".stripMargin),
    Query("key_skew_report") { (s, dir) =>
      // Pre-join skew audit on the user key: heaviest key's multiple of
      // the mean and row share — the measurement that sizes saltedJoin's
      // salt factor (ops/Skew.scala).
      graft.ops.Skew.keySkewReport(eventsTable(s, dir), "user_id")
    }.oracle(
      """WITH kc AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1
        |), a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(max(cnt) AS BIGINT) AS max_cnt
        |  FROM kc
        |)
        |SELECT 'user_id' AS key_col, n_keys, n_rows, max_cnt,
        |  CAST((2000 * n_rows + n_keys) // (2 * n_keys) AS BIGINT) AS mean_milli,
        |  CAST((2000000 * max_cnt * n_keys + n_rows) // (2 * n_rows) AS BIGINT)
        |    AS skew_ratio_micro,
        |  CAST((20000 * max_cnt + n_rows) // (2 * n_rows) AS BIGINT) AS top1_share_bps
        |FROM a""".stripMargin)
  )
}
