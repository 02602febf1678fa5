package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Shared._

/** Time-series queries over the per-user and hourly event series: smoothing
  * and forecasts, decomposition, and similarity search (PAA, SAX, banded
  * all-pairs and DTW) with their pruning and recall meters.
  */
object TimeSeriesQueries {

  /** The per-user hourly cents series and its total energies — the ONE
    * corpus-sized pass of the whole PAA/TS-similarity family, memoized per
    * (session, sfDir). Optimization r15: seven TS queries previously each
    * re-ran this aggregation (plus two checkpoints) per bench pass.
    */
  private def sharedPaaSeries(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    sharedState(s, dir, "paaSeries") {
      graft.ops.TimeSeries.paaSeriesShared(eventsTable(s, dir))
    }

  /** The PAA bound chain (sketch, upper bounds, seed threshold,
    * survivors) per sketch granularity, memoized — shared by the
    * prune-stats sweep legs and the pruned-topk production face.
    */
  private def sharedPaaChain(
      s: SparkSession, dir: String, segments: Int): graft.ops.TimeSeries.PaaChain =
    sharedState(s, dir, s"paaChain_$segments") {
      val (series, s2) = sharedPaaSeries(s, dir)
      graft.ops.TimeSeries.paaChainFrom(series, s2, maxQueryUser = 4L, k = 5, segments)
    }

  /** The exact brute cosine top-5 per query user (the
    * ts_user_similarity_topk result), checkpointed once — the gold frame
    * of the sketch-rerank sweep and (rank-1 slice) the SAX blocking
    * recall meter.
    */
  private def sharedTsTopk5(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "tsTopk5") {
      graft.ops.TimeSeries.tsSimilarityTopK(eventsTable(s, dir), maxQueryUser = 4L, k = 5)
        .localCheckpoint(eager = true)
    }

  /** SAX word frame per granularity off the shared hour-series pass,
    * memoized — read by ts_sax_words (4) and the blocking sweep (1, 2, 4).
    */
  private def sharedSaxWords(s: SparkSession, dir: String, segments: Int): DataFrame =
    sharedState(s, dir, s"saxWords_$segments") {
      graft.ops.TimeSeries.saxWordsFrom(sharedPaaSeries(s, dir)._1, segments)
        .localCheckpoint(eager = true)
    }

  /** The banded all-pairs TS build shared by the production face and its
    * recall meter: one corpus series aggregation, one banded
    * search-and-verify — the meter adds only its (by-definition
    * quadratic) gold leg. Returns (series, s2, topk-frame).
    */
  private def sharedTsAllpairs(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    sharedState(s, dir, "tsAllpairs") {
      val (series, s2) = sharedPaaSeries(s, dir)
      val topk = graft.ops.TimeSeries
        .allPairsNeighborsFrom(series, s2, k = 5, segments = 180, nbits = 16,
          bands = 4, maxBucket = 1000)
        .localCheckpoint(eager = true)
      (series, s2, topk)
    }

  /** The banded all-pairs DTW chain (profiles, candidates + bounds,
    * seed thresholds, kept exact distances) shared by the topk, stats,
    * and recall faces — each face is a cheap slice of one build.
    */
  private def sharedDtwAllpairs(
      s: SparkSession, dir: String): graft.ops.DtwSearch.AllPairsChain =
    sharedState(s, dir, "dtwAllpairs") {
      graft.ops.DtwSearch.dtwAllPairsChain(eventsTable(s, dir))
    }

  /** The brute banded-DTW gold (queries < 4 × corpus), checkpointed once
    * — shared by its own registered face and the all-pairs recall meter.
    */
  private def sharedDtwGold(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "dtwGoldTopk") {
      graft.ops.DtwSearch.dtwTopK(eventsTable(s, dir)).localCheckpoint(eager = true)
    }

  /** Per-(event_type, hour) event counts `hc`, their hour range `b`, and
    * the dense (event_type x every hour in range) `grid`.
    */
  private val HourlyGridCtes: String =
    """hc AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS hour,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM hc),
      |grid AS (
      |  SELECT t.event_type, g.h AS hour
      |  FROM (SELECT DISTINCT event_type FROM hc) t
      |  CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b))) AS h) g""".stripMargin

  /** Holt hourly replay: the SAME exact integer weight table the
    * operator bakes into its plan ([[graft.ops.TimeSeries.holtLevelWeights]]
    * — single source of truth, no dual-implementation drift), applied as
    * a VALUES cross join over the nonzero hours.
    */
  private def holtCtes: String = {
    val vals = (0 until graft.ops.TimeSeries.HoltWindow)
      .map(k => s"($k, ${graft.ops.TimeSeries.holtLevelWeights(k)}," +
        s" ${graft.ops.TimeSeries.holtTrendWeights(k)})")
      .mkString(", ")
    s"""$HourlyGridCtes
      |), w AS (SELECT * FROM (VALUES $vals) AS t(k, wl, wb)),
      |contrib AS (
      |  SELECT event_type, hour + k AS hour, cnt * wl AS wlc, cnt * wb AS wbc
      |  FROM hc CROSS JOIN w
      |), cagg AS (
      |  SELECT event_type, hour, CAST(sum(wlc) AS BIGINT) AS l,
      |    CAST(sum(wbc) AS BIGINT) AS bt
      |  FROM contrib GROUP BY 1, 2
      |), hres AS (
      |  SELECT g.event_type, g.hour, coalesce(hc.cnt, 0) AS cnt,
      |    coalesce(a.l, 0) AS l, coalesce(a.bt, 0) AS bt
      |  FROM grid g
      |  LEFT JOIN hc ON hc.event_type = g.event_type AND hc.hour = g.hour
      |  LEFT JOIN cagg a ON a.event_type = g.event_type AND a.hour = g.hour
      |)""".stripMargin
  }

  private def holtOracle: String =
    s"""WITH $holtCtes
      |SELECT event_type, hour * 3600000 AS hour_ms, cnt,
      |  l AS level_x2p24, bt AS trend_x2p24, l + bt AS forecast1_x2p24
      |FROM hres""".stripMargin

  /** One-step-ahead backtest replay over the same `hres` chain: Holt's
    * forecast error vs the naive carry-forward, both scaled 2^24.
    */
  private def holtBacktestOracle: String =
    s"""WITH $holtCtes, j AS (
      |  SELECT c.event_type, c.cnt, p.cnt AS prev_cnt, p.l + p.bt AS f_prev
      |  FROM hres c JOIN hres p
      |    ON p.event_type = c.event_type AND p.hour = c.hour - 1
      |), g2 AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
      |    CAST(sum(abs(cnt * 16777216 - f_prev)) AS BIGINT) AS sae_holt_x2p24,
      |    CAST(sum(abs(cnt - prev_cnt) * 16777216) AS BIGINT) AS sae_naive_x2p24
      |  FROM j GROUP BY 1
      |), q AS (
      |  SELECT *, 2 * 10000 * (CAST(sae_naive_x2p24 AS HUGEINT) - sae_holt_x2p24)
      |      + greatest(sae_naive_x2p24, 1) AS qn,
      |    2 * CAST(greatest(sae_naive_x2p24, 1) AS HUGEINT) AS dv
      |  FROM g2
      |)
      |SELECT event_type, n_hours, sae_holt_x2p24, sae_naive_x2p24,
      |  CAST((qn - ((qn % dv) + dv) % dv) // dv AS BIGINT) AS improvement_bps
      |FROM q""".stripMargin

  /** One SAX chain (suffix `sfx`): hourly sums → global-span PAA slice
    * means (signed exact round-half-up) → dense per-user segment grid →
    * global quartile breakpoints by CDF selection → strict-> symbols →
    * the word frame `w<sfx>` — mirrors [[graft.ops.TimeSeries.saxWords]].
    */
  private def saxChain(segments: Int, sfx: String): String =
    s"""hr$sfx AS MATERIALIZED (
      |  SELECT user_id, epoch_ms(ts) // 3600000 AS hour,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2
      |), span$sfx AS (SELECT min(hour) AS lo, max(hour) AS hi FROM hr$sfx),
      |sg$sfx AS (
      |  SELECT user_id, (hour - sp.lo) * $segments // (sp.hi - sp.lo + 1) AS seg, v
      |  FROM hr$sfx, span$sfx sp
      |), sm$sfx AS (
      |  SELECT user_id, seg,
      |    CAST(((2*1000000*sum(v) + count(*))
      |      - (((2*1000000*sum(v) + count(*)) % (2*count(*)) + 2*count(*)) % (2*count(*))))
      |      // (2*count(*)) AS BIGINT) AS mean_micro
      |  FROM sg$sfx GROUP BY 1, 2
      |), gu$sfx AS (SELECT DISTINCT user_id FROM sg$sfx),
      |grid$sfx AS MATERIALIZED (
      |  SELECT gu.user_id, g.seg, coalesce(sm.mean_micro, 0) AS mean_micro
      |  FROM gu$sfx gu CROSS JOIN (SELECT unnest(range($segments)) AS seg) g
      |  LEFT JOIN sm$sfx sm ON sm.user_id = gu.user_id AND sm.seg = g.seg
      |), cnt$sfx AS (SELECT mean_micro, CAST(count(*) AS BIGINT) AS cnt FROM grid$sfx GROUP BY 1),
      |cdf$sfx AS (SELECT mean_micro, sum(cnt) OVER (ORDER BY mean_micro) AS cum FROM cnt$sfx),
      |tot$sfx AS (SELECT CAST(count(*) AS BIGINT) AS n FROM grid$sfx),
      |b$sfx AS MATERIALIZED (
      |  SELECT
      |    (SELECT min(mean_micro) FROM cdf$sfx, tot$sfx WHERE cum >= (25 * n + 99) // 100) AS b25,
      |    (SELECT min(mean_micro) FROM cdf$sfx, tot$sfx WHERE cum >= (50 * n + 99) // 100) AS b50,
      |    (SELECT min(mean_micro) FROM cdf$sfx, tot$sfx WHERE cum >= (75 * n + 99) // 100) AS b75
      |), sym$sfx AS (
      |  SELECT user_id, seg,
      |    CAST(mean_micro > b.b25 AS INT) + CAST(mean_micro > b.b50 AS INT)
      |      + CAST(mean_micro > b.b75 AS INT) AS sym
      |  FROM grid$sfx, b$sfx b
      |), w$sfx AS MATERIALIZED (
      |  SELECT user_id,
      |    string_agg(CAST(seg AS VARCHAR) || CAST(sym AS VARCHAR), '' ORDER BY seg) AS word
      |  FROM sym$sfx GROUP BY 1
      |)""".stripMargin

  /** Hour-of-day profile CTEs shared by every DTW oracle: per-user dense
    * 24-cell cents profiles as ORDERED lists (`prof`), mirroring
    * [[graft.ops.DtwSearch.hodProfiles]].
    */
  private val dtwProfCtes: String =
    """ev0 AS (
      |  SELECT user_id, (epoch_ms(ts) // 3600000) % 24 AS hod,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), pr0 AS (
      |  SELECT user_id, hod, CAST(sum(v) AS BIGINT) AS v FROM ev0 GROUP BY 1, 2
      |), prof AS MATERIALIZED (
      |  SELECT g.user_id, list(coalesce(p.v, 0) ORDER BY g.hod) AS arr
      |  FROM (SELECT u.user_id, h.hod
      |        FROM (SELECT DISTINCT user_id FROM pr0) u
      |        CROSS JOIN (SELECT unnest(range(24)) AS hod) h) g
      |  LEFT JOIN pr0 p ON p.user_id = g.user_id AND p.hod = g.hod
      |  GROUP BY 1
      |)""".stripMargin

  /** One banded-DTW DP over a pair CTE `(query_user, user_id, qarr,
    * uarr)`, as a recursive anti-diagonal-free ROW-wavefront: each
    * iteration advances one matrix row, computing the in-row min-plus
    * scan in closed form (D[j] = S[j] + min_{m<=j}(B[m] − S[m−1]), B =
    * pairwise min of the previous row) — validated cell-for-cell against
    * an independent full-matrix DP. Squared diffs and partial costs
    * saturate at the 10^15 rail exactly like
    * [[graft.functions.DtwBandExpr]] (per-step saturation of
    * non-negative adds composes to the same value). Emits `dp$sfx`; read
    * results at i = 23, d[24].
    */
  private def dtwDpCte(pairsCte: String, sfx: String, band: Int): String = {
    val inf = "1000000000000000"
    val sqi = "31622777"
    s"""dp$sfx AS (
      |  SELECT query_user, user_id, 0 AS i,
      |    list_transform(range(1, 25), j ->
      |      least($inf, list_sum(list_transform(range(1, j + 1), t ->
      |        CASE WHEN (t - 1) <= $band THEN
      |          CASE WHEN abs(qarr[1] - uarr[t]) >= $sqi THEN $inf
      |               ELSE (qarr[1] - uarr[t]) * (qarr[1] - uarr[t]) END
      |        ELSE $inf END)))) AS d
      |  FROM $pairsCte
      |  UNION ALL
      |  SELECT query_user, user_id, i,
      |    list_transform(range(1, 25), j ->
      |      least($inf, s[j] + list_min(list_slice(t2, 1, j)))) AS d
      |  FROM (
      |    SELECT query_user, user_id, i, s,
      |      list_transform(range(1, 25), m ->
      |        b[m] - CASE WHEN m = 1 THEN 0 ELSE s[m - 1] END) AS t2
      |    FROM (
      |      SELECT query_user, user_id, i,
      |        list_transform(range(1, 25), j -> list_sum(list_slice(a, 1, j))) AS s, b
      |      FROM (
      |        SELECT dp$sfx.query_user, dp$sfx.user_id, dp$sfx.i + 1 AS i,
      |          list_transform(range(1, 25), j ->
      |            CASE WHEN abs(dp$sfx.i + 1 - (j - 1)) <= $band THEN
      |              CASE WHEN abs(p.qarr[dp$sfx.i + 2] - p.uarr[j]) >= $sqi THEN $inf
      |                   ELSE (p.qarr[dp$sfx.i + 2] - p.uarr[j]) * (p.qarr[dp$sfx.i + 2] - p.uarr[j]) END
      |            ELSE $inf END) AS a,
      |          list_transform(range(1, 25), m ->
      |            CASE WHEN m = 1 THEN dp$sfx.d[1] ELSE least(dp$sfx.d[m], dp$sfx.d[m - 1]) END) AS b
      |        FROM dp$sfx JOIN $pairsCte p USING (query_user, user_id)
      |        WHERE dp$sfx.i < 23
      |      )
      |    )
      |  )
      |)""".stripMargin
  }

  /** Brute banded-DTW top-k (band 4, k 5) — also the oracle of the
    * pruned face: a hash match there proves the LB_Keogh chain never
    * false-dismissed.
    */
  private val tsDtwBruteOracle: String =
    s"""WITH RECURSIVE $dtwProfCtes,
      |pairs AS MATERIALIZED (
      |  SELECT q.user_id AS query_user, u.user_id, q.arr AS qarr, u.arr AS uarr
      |  FROM prof q JOIN prof u ON q.user_id < 4 AND u.user_id != q.user_id
      |),
      |${dtwDpCte("pairs", "b", 4)},
      |dist AS (
      |  SELECT query_user, user_id, CAST(d[24] AS BIGINT) AS dtw_dist
      |  FROM dpb WHERE i = 23
      |)
      |SELECT query_user, user_id, dtw_dist, CAST(rank AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_user
      |        ORDER BY dtw_dist, user_id) AS rank FROM dist)
      |WHERE rank <= 5""".stripMargin

  /** The LB_Keogh prune-stats oracle: per band, envelopes + lower bounds
    * over the full candidate grid, exact seed DTWs through the recursive
    * DP, the k-th-smallest threshold (sentinel −1 when a query has < k
    * seeds or a saturated threshold), survivor and pruned-bps counts —
    * mirroring [[graft.ops.DtwSearch.dtwPruneStats]] leg for leg.
    */
  private def tsDtwPruneStatsOracle(bands: Seq[Int], k: Int, seedMod: Int): String = {
    val inf = "1000000000000000"
    val sqi = "31622777"
    val legs = bands.map { r =>
      s"""env$r AS (
        |  SELECT user_id AS query_user,
        |    list_transform(range(1, 25), i ->
        |      list_max(list_slice(arr, greatest(i - $r, 1), least(i + $r, 24)))) AS ue,
        |    list_transform(range(1, 25), i ->
        |      list_min(list_slice(arr, greatest(i - $r, 1), least(i + $r, 24)))) AS le
        |  FROM prof WHERE user_id < 4
        |), lb$r AS MATERIALIZED (
        |  SELECT e.query_user, u.user_id,
        |    least($inf, list_sum(list_transform(range(1, 25), j ->
        |      CASE WHEN u.arr[j] > e.ue[j] THEN
        |        CASE WHEN u.arr[j] - e.ue[j] >= $sqi THEN $inf
        |             ELSE (u.arr[j] - e.ue[j]) * (u.arr[j] - e.ue[j]) END
        |      WHEN u.arr[j] < e.le[j] THEN
        |        CASE WHEN e.le[j] - u.arr[j] >= $sqi THEN $inf
        |             ELSE (e.le[j] - u.arr[j]) * (e.le[j] - u.arr[j]) END
        |      ELSE 0 END))) AS lb
        |  FROM prof u CROSS JOIN env$r e WHERE u.user_id != e.query_user
        |),
        |${dtwDpCte("spairs", s"s$r", r)},
        |tau$r AS (
        |  SELECT query_user, CAST(dtw AS BIGINT) AS tau FROM (
        |    SELECT query_user, CAST(d[24] AS BIGINT) AS dtw,
        |      row_number() OVER (PARTITION BY query_user
        |        ORDER BY CAST(d[24] AS BIGINT), user_id) AS srk
        |    FROM dps$r WHERE i = 23) WHERE srk = $k
        |), cnt$r AS (
        |  SELECT l.query_user,
        |    CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(CASE WHEN l.user_id % $seedMod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
        |    CAST(sum(CASE WHEN l.lb <= coalesce(t.tau, $inf) THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
        |    coalesce(max(t.tau), $inf) AS tau_raw
        |  FROM lb$r l LEFT JOIN tau$r t ON t.query_user = l.query_user
        |  GROUP BY 1
        |)""".stripMargin
    }
    val selects = bands.map { r =>
      s"""SELECT CAST($r AS BIGINT) AS band, query_user, n_candidates, n_seeds,
        |  CAST(CASE WHEN tau_raw = $inf THEN -1 ELSE tau_raw END AS BIGINT) AS tau,
        |  n_survivors,
        |  CAST((20000 * (n_candidates - n_survivors) + n_candidates)
        |    // (2 * n_candidates) AS BIGINT) AS pruned_bps
        |FROM cnt$r""".stripMargin
    }
    s"""WITH RECURSIVE $dtwProfCtes,
      |spairs AS MATERIALIZED (
      |  SELECT q.user_id AS query_user, u.user_id, q.arr AS qarr, u.arr AS uarr
      |  FROM prof q JOIN prof u ON q.user_id < 4 AND u.user_id != q.user_id
      |    AND u.user_id % $seedMod = 0
      |),
      |${legs.mkString(",\n")}
      |${selects.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** The all-pairs banded-DTW chain CTEs (shared by the topk, stats and
    * recall oracles), mirroring [[graft.ops.DtwSearch.dtwAllPairsChain]]:
    * sorted-quantized-profile bucket keys per offset lattice (cell
    * values are non-negative, so DuckDB's floor `//` equals Spark's
    * truncating DIV), capped buckets → unordered candidate pairs →
    * directed frame with LB_Keogh bounds and seed flags → wave-1 seed DP
    * → per-user k-th seed threshold (rail sentinel) → wave-2 DP on kept
    * pairs not already scored → `apfinal(user_id, neighbor_id,
    * dtw_dist)` the kept directions. `dirWhere` optionally restricts the
    * directed frame's query side (the recall oracle replays the chain
    * for the gold stratum only — sound because every stage past the
    * candidate pairs is per-query-user).
    */
  private def tsDtwAllPairsChainCtes(
      band: Int, k: Int, quant: Long, bands: Int, maxBucket: Int, seedMod: Int,
      dirWhere: String = ""): String = {
    val inf = "1000000000000000"
    val sqi = "31622777"
    s"""apkeys AS MATERIALIZED (
      |  SELECT user_id, b.b AS band,
      |    list_sort(list_transform(arr, v -> (v + b.b * ${quant / bands}) // $quant)) AS bk
      |  FROM prof, range($bands) b(b)
      |), apbok AS (
      |  SELECT band, bk FROM apkeys GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $maxBucket
      |), apcand AS MATERIALIZED (
      |  SELECT DISTINCT a.user_id AS id_a, c.user_id AS id_b
      |  FROM apbok o
      |  JOIN apkeys a ON a.band = o.band AND a.bk = o.bk
      |  JOIN apkeys c ON c.band = o.band AND c.bk = o.bk AND a.user_id < c.user_id
      |), apenv AS MATERIALIZED (
      |  SELECT user_id,
      |    list_transform(range(1, 25), i ->
      |      list_max(list_slice(arr, greatest(i - $band, 1), least(i + $band, 24)))) AS ue,
      |    list_transform(range(1, 25), i ->
      |      list_min(list_slice(arr, greatest(i - $band, 1), least(i + $band, 24)))) AS le
      |  FROM prof
      |), apdir AS MATERIALIZED (
      |  SELECT d.user_id, d.neighbor_id,
      |    least($inf, list_sum(list_transform(range(1, 25), j ->
      |      CASE WHEN u.arr[j] > e.ue[j] THEN
      |        CASE WHEN u.arr[j] - e.ue[j] >= $sqi THEN $inf
      |             ELSE (u.arr[j] - e.ue[j]) * (u.arr[j] - e.ue[j]) END
      |      WHEN u.arr[j] < e.le[j] THEN
      |        CASE WHEN e.le[j] - u.arr[j] >= $sqi THEN $inf
      |             ELSE (e.le[j] - u.arr[j]) * (e.le[j] - u.arr[j]) END
      |      ELSE 0 END))) AS lb,
      |    CASE WHEN d.neighbor_id % $seedMod = 0 THEN 1 ELSE 0 END AS is_seed
      |  FROM (SELECT id_a AS user_id, id_b AS neighbor_id FROM apcand
      |        UNION ALL SELECT id_b, id_a FROM apcand) d
      |  JOIN apenv e ON e.user_id = d.user_id
      |  JOIN prof u ON u.user_id = d.neighbor_id
      |  $dirWhere
      |), apsneed AS (
      |  SELECT DISTINCT least(user_id, neighbor_id) AS query_user,
      |    greatest(user_id, neighbor_id) AS user_id
      |  FROM apdir WHERE is_seed = 1
      |), apspairs AS MATERIALIZED (
      |  SELECT n.query_user, n.user_id, qa.arr AS qarr, ua.arr AS uarr
      |  FROM apsneed n
      |  JOIN prof qa ON qa.user_id = n.query_user
      |  JOIN prof ua ON ua.user_id = n.user_id
      |),
      |${dtwDpCte("apspairs", "aps", band)},
      |apsdist AS MATERIALIZED (
      |  SELECT query_user AS id_a, user_id AS id_b, CAST(d[24] AS BIGINT) AS dtw
      |  FROM dpaps WHERE i = 23
      |), aptau AS MATERIALIZED (
      |  SELECT u.user_id, coalesce(t.tau, $inf) AS tau
      |  FROM (SELECT DISTINCT user_id FROM apdir) u
      |  LEFT JOIN (
      |    SELECT user_id, dtw AS tau FROM (
      |      SELECT dd.user_id, dd.dtw,
      |        row_number() OVER (PARTITION BY dd.user_id
      |          ORDER BY dd.dtw, dd.neighbor_id) AS srk
      |      FROM (SELECT s.id_a AS user_id, s.id_b AS neighbor_id, s.dtw FROM apsdist s
      |            UNION ALL SELECT s.id_b, s.id_a, s.dtw FROM apsdist s) dd
      |      JOIN apdir x ON x.user_id = dd.user_id AND x.neighbor_id = dd.neighbor_id
      |        AND x.is_seed = 1
      |    ) WHERE srk = $k
      |  ) t ON t.user_id = u.user_id
      |), apkeep AS MATERIALIZED (
      |  SELECT d.user_id, d.neighbor_id
      |  FROM apdir d JOIN aptau t ON t.user_id = d.user_id
      |  WHERE d.is_seed = 1 OR d.lb <= t.tau
      |), apvneed AS (
      |  -- EXCEPT is not allowed inside WITH RECURSIVE (DuckDB parses any
      |  -- set-op CTE there as a recursion candidate) — anti-join instead
      |  SELECT DISTINCT least(kk.user_id, kk.neighbor_id) AS query_user,
      |    greatest(kk.user_id, kk.neighbor_id) AS user_id
      |  FROM apkeep kk
      |  WHERE NOT EXISTS (SELECT 1 FROM apsneed s
      |    WHERE s.query_user = least(kk.user_id, kk.neighbor_id)
      |      AND s.user_id = greatest(kk.user_id, kk.neighbor_id))
      |), apvpairs AS MATERIALIZED (
      |  SELECT n.query_user, n.user_id, qa.arr AS qarr, ua.arr AS uarr
      |  FROM apvneed n
      |  JOIN prof qa ON qa.user_id = n.query_user
      |  JOIN prof ua ON ua.user_id = n.user_id
      |),
      |${dtwDpCte("apvpairs", "apv", band)},
      |apdist AS MATERIALIZED (
      |  SELECT * FROM apsdist
      |  UNION ALL
      |  SELECT query_user AS id_a, user_id AS id_b, CAST(d[24] AS BIGINT) AS dtw
      |  FROM dpapv WHERE i = 23
      |), apfinal AS MATERIALIZED (
      |  SELECT kk.user_id, kk.neighbor_id, dd.dtw AS dtw_dist
      |  FROM apkeep kk
      |  JOIN (SELECT id_a AS user_id, id_b AS neighbor_id, dtw FROM apdist
      |        UNION ALL SELECT id_b, id_a, dtw FROM apdist) dd
      |    ON dd.user_id = kk.user_id AND dd.neighbor_id = kk.neighbor_id
      |)""".stripMargin
  }

  private def tsDtwAllPairsTopKOracle(
      band: Int, k: Int, quant: Long, bands: Int, maxBucket: Int, seedMod: Int): String =
    s"""WITH RECURSIVE $dtwProfCtes,
      |${tsDtwAllPairsChainCtes(band, k, quant, bands, maxBucket, seedMod)}
      |SELECT user_id, neighbor_id, CAST(dtw_dist AS BIGINT) AS dtw_dist, CAST(rk AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY dtw_dist, neighbor_id) AS rk FROM apfinal)
      |WHERE rk <= $k""".stripMargin

  private def tsDtwAllPairsStatsOracle(
      band: Int, k: Int, quant: Long, bands: Int, maxBucket: Int, seedMod: Int): String =
    s"""WITH RECURSIVE $dtwProfCtes,
      |${tsDtwAllPairsChainCtes(band, k, quant, bands, maxBucket, seedMod)}
      |SELECT d.user_id,
      |  CAST(count(*) AS BIGINT) AS n_candidates,
      |  CAST(sum(d.is_seed) AS BIGINT) AS n_seeds,
      |  CAST(CASE WHEN max(t.tau) = 1000000000000000 THEN -1 ELSE max(t.tau) END AS BIGINT) AS tau,
      |  CAST(sum(CASE WHEN d.lb <= t.tau THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
      |  CAST((20000 * (count(*) - sum(CASE WHEN d.lb <= t.tau THEN 1 ELSE 0 END)) + count(*))
      |    // (2 * count(*)) AS BIGINT) AS pruned_bps
      |FROM apdir d JOIN aptau t ON t.user_id = d.user_id
      |GROUP BY 1""".stripMargin

  private def tsDtwAllPairsRecallOracle(
      band: Int, k: Int, quant: Long, bands: Int, maxBucket: Int, seedMod: Int,
      maxGoldUser: Long): String =
    s"""WITH RECURSIVE $dtwProfCtes,
      |${tsDtwAllPairsChainCtes(band, k, quant, bands, maxBucket, seedMod,
         dirWhere = s"WHERE d.user_id < $maxGoldUser")},
      |gpairs AS MATERIALIZED (
      |  SELECT q.user_id AS query_user, u.user_id, q.arr AS qarr, u.arr AS uarr
      |  FROM prof q JOIN prof u ON q.user_id < $maxGoldUser AND u.user_id != q.user_id
      |),
      |${dtwDpCte("gpairs", "apg", band)},
      |apgold AS MATERIALIZED (
      |  SELECT query_user AS guser, user_id AS gneighbor FROM (
      |    SELECT query_user, user_id, row_number() OVER (PARTITION BY query_user
      |      ORDER BY CAST(d[24] AS BIGINT), user_id) AS rk
      |    FROM dpapg WHERE i = 23
      |  ) WHERE rk <= $k
      |), apb AS (
      |  SELECT user_id, neighbor_id FROM (
      |    SELECT user_id, neighbor_id, row_number() OVER (PARTITION BY user_id
      |      ORDER BY dtw_dist, neighbor_id) AS rk FROM apfinal
      |  ) WHERE rk <= $k
      |), apgc AS (SELECT guser AS user_id, CAST(count(*) AS BIGINT) AS n_gold
      |  FROM apgold GROUP BY 1),
      |apbc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_banded FROM apb GROUP BY 1),
      |aphc AS (
      |  SELECT g.guser AS user_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM apgold g JOIN apb b ON b.user_id = g.guser AND b.neighbor_id = g.gneighbor
      |  GROUP BY 1
      |)
      |SELECT g.user_id, g.n_gold,
      |  CAST(coalesce(b.n_banded, 0) AS BIGINT) AS n_banded,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST((2 * 1000000 * coalesce(h.n_hit, 0) + g.n_gold)
      |    // (2 * g.n_gold) AS BIGINT) AS recall_micro
      |FROM apgc g LEFT JOIN apbc b USING (user_id) LEFT JOIN aphc h USING (user_id)""".stripMargin

  /** Brute exact TS cosine top-5 — the oracle of BOTH
    * `ts_user_similarity_topk` and `ts_paa_pruned_topk`: the pruned search
    * claims bit-identical output, so it is checked against the brute SQL.
    */
  private val tsBruteTopKOracle: String =
    """WITH sr AS MATERIALIZED (
      |  SELECT user_id, epoch_ms(ts) // 3600000 AS hour,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2
      |), s2 AS MATERIALIZED (
      |  SELECT user_id, CAST(sum(v*v) AS BIGINT) AS s2 FROM sr GROUP BY 1
      |), qs AS (SELECT user_id AS query_user, hour, v AS qv FROM sr WHERE user_id < 4),
      |dots AS (
      |  SELECT q.query_user, s.user_id, CAST(sum(q.qv * s.v) AS BIGINT) AS dot,
      |    CAST(count(*) AS BIGINT) AS n_shared_hours
      |  FROM sr s JOIN qs q USING (hour) GROUP BY 1, 2
      |), qs2 AS (SELECT user_id AS query_user, s2 AS q_s2 FROM s2 WHERE user_id < 4),
      |grid AS (
      |  SELECT g.query_user, u.user_id,
      |    coalesce(d.n_shared_hours, 0) AS n_shared_hours,
      |    g.q_s2 + u.s2 - 2 * coalesce(d.dot, 0) AS dist2,
      |    CASE WHEN u.s2 > 0 AND g.q_s2 > 0 THEN
      |      CAST(floor(CAST(coalesce(d.dot, 0) AS DOUBLE)
      |        / (sqrt(CAST(g.q_s2 AS DOUBLE)) * sqrt(CAST(u.s2 AS DOUBLE)))
      |        * 1e6 + 0.5e0) AS BIGINT)
      |    ELSE 0 END AS cos_micro
      |  FROM s2 u CROSS JOIN qs2 g
      |  LEFT JOIN dots d ON d.query_user = g.query_user AND d.user_id = u.user_id
      |  WHERE u.user_id != g.query_user
      |)
      |SELECT query_user, user_id, n_shared_hours, CAST(dist2 AS BIGINT) AS dist2,
      |  CAST(cos_micro AS BIGINT) AS cos_micro, CAST(rank AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_user
      |        ORDER BY cos_micro DESC, user_id) AS rank FROM grid)
      |WHERE rank <= 5""".stripMargin

  /** One PAA leg's CTE chain at `segs` segments, suffixed `$segs`: the
    * segment-energy sketch, the integer-exact Cauchy–Schwarz cosine upper
    * bound (HUGEINT isqrt with the same ±1 double-seed adjustment as
    * [[graft.functions.ExactDecimal.isqrtFloor]]), the 2k-seed exact
    * threshold, and the survivor frame. Shares the cross-leg CTEs `sr`
    * `span` `s2f` `qs2` `sq` emitted by [[tsPaaPruneStatsOracle]].
    */
  private def paaLegChain(segs: Int): String = {
    val p = s"g$segs"
    s"""${p}se0 AS (
      |  SELECT user_id, (hour - sp.lo) * $segs // (sp.hi - sp.lo + 1) AS seg,
      |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS e
      |  FROM sr, span sp GROUP BY 1, 2
      |), ${p}se1 AS (
      |  SELECT user_id, seg, e,
      |    CAST(floor(sqrt(CAST(e AS DOUBLE))) AS HUGEINT) AS r0
      |  FROM ${p}se0
      |), ${p}se AS MATERIALIZED (
      |  -- ceil-sqrt per sketch cell (single energies, never the e_q*e_u
      |  -- product — the r11 overflow-safe bound; mirrors isqrtCeil)
      |  SELECT user_id, seg, e,
      |    CASE WHEN rf*rf = e THEN rf ELSE rf+1 END AS ec
      |  FROM (SELECT user_id, seg, e,
      |          CASE WHEN (r0+1)*(r0+1) <= e THEN r0+1
      |               WHEN r0*r0 > e THEN r0-1 ELSE r0 END AS rf
      |        FROM ${p}se1)
      |), ${p}qe AS (SELECT user_id AS query_user, seg, ec AS qec FROM ${p}se WHERE user_id < 4),
      |${p}nums AS (
      |  SELECT q.query_user, s.user_id, CAST(sum(q.qec * s.ec) AS HUGEINT) AS num
      |  FROM ${p}se s JOIN ${p}qe q USING (seg) WHERE s.user_id != q.query_user
      |  GROUP BY 1, 2
      |), ${p}ub AS MATERIALIZED (
      |  SELECT g.query_user, u.user_id,
      |    CASE WHEN u.s2 > 0 AND g.q_s2 > 0 THEN
      |      (coalesce(n.num, 0) * 1000000 + g.q_rf * u.rf - 1) // (g.q_rf * u.rf)
      |    ELSE 0 END AS ub_micro
      |  FROM s2f u CROSS JOIN qs2 g
      |  LEFT JOIN ${p}nums n ON n.query_user = g.query_user AND n.user_id = u.user_id
      |  WHERE u.user_id != g.query_user
      |), ${p}seed AS (
      |  SELECT query_user, user_id FROM (
      |    SELECT query_user, user_id, row_number() OVER (PARTITION BY query_user
      |      ORDER BY ub_micro DESC, user_id) AS urk FROM ${p}ub) WHERE urk <= 10
      |), ${p}sdots AS (
      |  SELECT p.query_user, p.user_id, CAST(sum(q.qv * s.v) AS BIGINT) AS dot
      |  FROM ${p}seed p
      |  JOIN sr s ON s.user_id = p.user_id
      |  JOIN sq q ON q.query_user = p.query_user AND q.hour = s.hour
      |  GROUP BY 1, 2
      |), ${p}sexact AS (
      |  SELECT p.query_user, p.user_id,
      |    CASE WHEN u.s2 > 0 AND g.q_s2 > 0 THEN
      |      CAST(floor(CAST(coalesce(d.dot, 0) AS DOUBLE)
      |        / (sqrt(CAST(g.q_s2 AS DOUBLE)) * sqrt(CAST(u.s2 AS DOUBLE)))
      |        * 1e6 + 0.5e0) AS BIGINT)
      |    ELSE 0 END AS cos_micro
      |  FROM ${p}seed p
      |  JOIN s2f u ON u.user_id = p.user_id
      |  JOIN qs2 g ON g.query_user = p.query_user
      |  LEFT JOIN ${p}sdots d ON d.query_user = p.query_user AND d.user_id = p.user_id
      |), ${p}tau AS MATERIALIZED (
      |  SELECT query_user, cos_micro AS tau_micro FROM (
      |    SELECT query_user, cos_micro, row_number() OVER (PARTITION BY query_user
      |      ORDER BY cos_micro DESC, user_id) AS crk FROM ${p}sexact) WHERE crk = 5
      |)""".stripMargin
  }

  /** PAA prune-curve replay (`ts_paa_prune_stats`): one [[paaLegChain]]
    * per swept segment count over shared series/energy CTEs — mirrors
    * [[graft.ops.TimeSeries.tsPaaPruneStats]] step for step (k=5, queries
    * user_id < 4, absent-tau sentinel −10¹⁵).
    */
  private def tsPaaPruneStatsOracle(sweep: Seq[Int]): String = {
    val chains = sweep.map(paaLegChain).mkString(",\n")
    val legs = sweep.map { segs =>
      val p = s"g$segs"
      s"""SELECT CAST($segs AS INT) AS segments, u.query_user,
        |  CAST(count(*) AS BIGINT) AS n_candidates,
        |  CAST(max(t.tau_micro) AS BIGINT) AS tau_micro,
        |  CAST(sum(CASE WHEN u.ub_micro >= coalesce(t.tau_micro, -1000000000000000)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
        |  CAST((2 * 10000 * (count(*) - sum(CASE WHEN u.ub_micro >=
        |      coalesce(t.tau_micro, -1000000000000000) THEN 1 ELSE 0 END)) + count(*))
        |    // (2 * count(*)) AS BIGINT) AS pruned_bps
        |FROM ${p}ub u LEFT JOIN ${p}tau t USING (query_user)
        |GROUP BY 1, 2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sr AS MATERIALIZED (
      |  SELECT user_id, epoch_ms(ts) // 3600000 AS hour,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2
      |), span AS (SELECT min(hour) AS lo, max(hour) AS hi FROM sr),
      |s2 AS MATERIALIZED (
      |  SELECT user_id, CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      |  FROM sr GROUP BY 1
      |), s2r AS (
      |  SELECT user_id, s2, CAST(floor(sqrt(CAST(s2 AS DOUBLE))) AS HUGEINT) AS r0 FROM s2
      |), s2f AS MATERIALIZED (
      |  SELECT user_id, s2,
      |    CASE WHEN (r0+1)*(r0+1) <= s2 THEN r0+1
      |         WHEN r0*r0 > s2 THEN r0-1 ELSE r0 END AS rf
      |  FROM s2r
      |), qs2 AS (SELECT user_id AS query_user, s2 AS q_s2, rf AS q_rf FROM s2f WHERE user_id < 4),
      |sq AS (SELECT user_id AS query_user, hour, v AS qv FROM sr WHERE user_id < 4),
      |$chains
      |$legs""".stripMargin
  }

  /** Sketch-rerank sweep replay (`ts_sketch_rerank_recall`): the signed
    * 180-segment sketch, its cosine ranking, and one recall leg per
    * candidate budget against the exact-cosine top-5 — mirrors
    * [[graft.ops.TimeSeries.tsSketchRerankRecall]].
    */
  private def tsSketchRerankOracle(segments: Int, k: Int, budgets: Seq[Int]): String = {
    val legs = budgets.map { c =>
      s"""SELECT CAST($c AS INT) AS c_budget,
        |  (SELECT CAST(count(*) AS BIGINT) FROM grel) AS n_gold,
        |  CAST(count(*) AS BIGINT) AS n_hit
        |FROM ranked t JOIN grel r
        |  ON r.query_user = t.query_user AND r.user_id = t.user_id
        |WHERE t.rk <= $c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sr AS MATERIALIZED (
      |  SELECT user_id, epoch_ms(ts) // 3600000 AS hour,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2
      |), span AS (SELECT min(hour) AS lo, max(hour) AS hi FROM sr),
      |sk AS MATERIALIZED (
      |  SELECT user_id, (hour - sp.lo) * $segments // (sp.hi - sp.lo + 1) AS seg,
      |    CAST(sum(v) AS BIGINT) AS sv
      |  FROM sr, span sp GROUP BY 1, 2
      |), k2 AS MATERIALIZED (
      |  SELECT user_id, CAST(sum(CAST(sv AS HUGEINT) * sv) AS BIGINT) AS k2
      |  FROM sk GROUP BY 1
      |), qsk AS (SELECT user_id AS query_user, seg, sv AS qv FROM sk WHERE user_id < 4),
      |sdots AS (
      |  SELECT q.query_user, s.user_id, CAST(sum(q.qv * s.sv) AS BIGINT) AS dot
      |  FROM sk s JOIN qsk q USING (seg) WHERE s.user_id != q.query_user GROUP BY 1, 2
      |), qk2 AS (SELECT user_id AS query_user, k2 AS q_k2 FROM k2 WHERE user_id < 4),
      |ranked AS MATERIALIZED (
      |  SELECT query_user, user_id, row_number() OVER (PARTITION BY query_user
      |    ORDER BY sk_cos DESC, user_id) AS rk
      |  FROM (
      |    SELECT g.query_user, u.user_id,
      |      CASE WHEN u.k2 > 0 AND g.q_k2 > 0 THEN
      |        CAST(floor(CAST(coalesce(d.dot, 0) AS DOUBLE)
      |          / (sqrt(CAST(g.q_k2 AS DOUBLE)) * sqrt(CAST(u.k2 AS DOUBLE)))
      |          * 1e6 + 0.5e0) AS BIGINT)
      |      ELSE 0 END AS sk_cos
      |    FROM k2 u CROSS JOIN qk2 g
      |    LEFT JOIN sdots d ON d.query_user = g.query_user AND d.user_id = u.user_id
      |    WHERE u.user_id != g.query_user)
      |), s2g AS MATERIALIZED (
      |  SELECT user_id, CAST(sum(CAST(v AS HUGEINT) * v) AS BIGINT) AS s2
      |  FROM sr GROUP BY 1
      |), qsg AS (SELECT user_id AS query_user, hour, v AS qv FROM sr WHERE user_id < 4),
      |gdots AS (
      |  SELECT q.query_user, s.user_id, CAST(sum(q.qv * s.v) AS BIGINT) AS dot
      |  FROM sr s JOIN qsg q USING (hour) GROUP BY 1, 2
      |), qs2g AS (SELECT user_id AS query_user, s2 AS q_s2 FROM s2g WHERE user_id < 4),
      |grel AS MATERIALIZED (
      |  SELECT query_user, user_id FROM (
      |    SELECT g.query_user, u.user_id, row_number() OVER (PARTITION BY g.query_user
      |      ORDER BY CASE WHEN u.s2 > 0 AND g.q_s2 > 0 THEN
      |        CAST(floor(CAST(coalesce(d.dot, 0) AS DOUBLE)
      |          / (sqrt(CAST(g.q_s2 AS DOUBLE)) * sqrt(CAST(u.s2 AS DOUBLE)))
      |          * 1e6 + 0.5e0) AS BIGINT)
      |      ELSE 0 END DESC, u.user_id) AS grank
      |    FROM s2g u CROSS JOIN qs2g g
      |    LEFT JOIN gdots d ON d.query_user = g.query_user AND d.user_id = u.user_id
      |    WHERE u.user_id != g.query_user
      |  ) WHERE grank <= $k
      |)
      |SELECT c_budget, n_gold, n_hit,
      |  CAST((2 * 1000000 * n_hit + n_gold) // (2 * n_gold) AS BIGINT) AS recall_micro
      |FROM ($legs)""".stripMargin
  }

  /** The banded chain shared by `ts_allpairs_topk` (production face) and
    * `ts_allpairs_neighbors` (recall face): series → signed sketch →
    * md5 sign bits → band keys → capped buckets → exact-verified scored
    * pairs (`scored`), plus the norm frame `s2`.
    */
  private def tsAllPairsChainCtes(
      segments: Int, nbits: Int, bands: Int, maxBucket: Int): String = {
    val r = nbits / bands
    s"""sr AS MATERIALIZED (
      |  SELECT user_id, epoch_ms(ts) // 3600000 AS hour,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2
      |), span AS (SELECT min(hour) AS lo, max(hour) AS hi FROM sr),
      |sk AS MATERIALIZED (
      |  SELECT user_id, (hour - sp.lo) * $segments // (sp.hi - sp.lo + 1) AS seg,
      |    CAST(sum(v) AS BIGINT) AS sv
      |  FROM sr, span sp GROUP BY 1, 2
      |), planes AS MATERIALIZED (
      |  -- no line may START with '|': this fragment nests inside a second
      |  -- stripMargin template, which would eat one pipe of a leading '||'
      |  SELECT j.j AS j, d.d AS seg,
      |    CASE WHEN CAST(('0x' || substr(md5('tsp-' || CAST(j.j AS VARCHAR) ||
      |        '-' || CAST(d.d AS VARCHAR)), 7, 2)) AS INTEGER) % 2 = 1
      |      THEN 1 ELSE -1 END AS sgn
      |  FROM range($nbits) j(j), range($segments) d(d)
      |), proj AS (
      |  SELECT s.user_id, p.j, CAST(sum(s.sv * p.sgn) AS HUGEINT) AS pr
      |  FROM sk s JOIN planes p ON p.seg = s.seg GROUP BY 1, 2
      |), bandkey AS MATERIALIZED (
      |  SELECT user_id, j // $r AS band,
      |    CAST(sum(CASE WHEN pr > 0 THEN (1 << CAST(j % $r AS INT)) ELSE 0 END) AS BIGINT) AS bk
      |  FROM proj GROUP BY 1, 2
      |), bucket_ok AS (
      |  SELECT band, bk FROM bandkey GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $maxBucket
      |), cand AS MATERIALIZED (
      |  SELECT DISTINCT a.user_id AS id_a, b.user_id AS id_b
      |  FROM bucket_ok o
      |  JOIN bandkey a ON a.band = o.band AND a.bk = o.bk
      |  JOIN bandkey b ON b.band = o.band AND b.bk = o.bk AND a.user_id < b.user_id
      |), s2 AS MATERIALIZED (
      |  SELECT user_id, CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      |  FROM sr GROUP BY 1
      |), pdots AS (
      |  SELECT c.id_a, c.id_b, CAST(sum(sa.v * sb.v) AS BIGINT) AS dot
      |  FROM cand c
      |  JOIN sr sa ON sa.user_id = c.id_a
      |  JOIN sr sb ON sb.user_id = c.id_b AND sb.hour = sa.hour
      |  GROUP BY 1, 2
      |), scored AS MATERIALIZED (
      |  SELECT c.id_a, c.id_b,
      |    CASE WHEN ua.s2 > 0 AND ub.s2 > 0 THEN
      |      CAST(floor(CAST(coalesce(d.dot, 0) AS DOUBLE)
      |        / (sqrt(CAST(ua.s2 AS DOUBLE)) * sqrt(CAST(ub.s2 AS DOUBLE)))
      |        * 1e6 + 0.5e0) AS BIGINT)
      |    ELSE 0 END AS cos_micro
      |  FROM cand c
      |  JOIN s2 ua ON ua.user_id = c.id_a
      |  JOIN s2 ub ON ub.user_id = c.id_b
      |  LEFT JOIN pdots d ON d.id_a = c.id_a AND d.id_b = c.id_b
      |)""".stripMargin
  }

  /** Banded all-pairs TS neighbor replay (`ts_allpairs_neighbors`): the
    * signed PAA sketch, md5 sign-plane bits ("tsp-<j>-<seg>" low bit of
    * digest byte 3), r-bit band keys, bucket pairing with the 2..maxBucket
    * cap, shared-hour exact verify, per-user top-k, and the per-user
    * recall against the exact all-pairs cosine gold — mirrors
    * [[graft.ops.TimeSeries.allPairsNeighborsRecall]].
    */
  private def tsAllPairsOracle(
      k: Int, segments: Int, nbits: Int, bands: Int, maxBucket: Int,
      sampleMod: Int = 1): String = {
    s"""WITH ${tsAllPairsChainCtes(segments, nbits, bands, maxBucket)},
      |btop AS MATERIALIZED (
      |  SELECT user_id, neighbor_id FROM (
      |    SELECT user_id, neighbor_id, row_number() OVER (PARTITION BY user_id
      |      ORDER BY cos_micro DESC, neighbor_id) AS rk
      |    FROM (SELECT id_a AS user_id, id_b AS neighbor_id, cos_micro FROM scored
      |          UNION ALL
      |          SELECT id_b, id_a, cos_micro FROM scored)
      |  ) WHERE rk <= $k AND user_id % $sampleMod = 0
      |), gdots AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub, CAST(sum(a.v * b.v) AS BIGINT) AS dot
      |  FROM sr a JOIN sr b ON b.hour = a.hour AND b.user_id != a.user_id
      |  WHERE a.user_id % $sampleMod = 0
      |  GROUP BY 1, 2
      |), gtop AS MATERIALIZED (
      |  SELECT user_id, neighbor_id FROM (
      |    SELECT ua.user_id, ub.user_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY ua.user_id ORDER BY
      |        CASE WHEN ua.s2 > 0 AND ub.s2 > 0 THEN
      |          CAST(floor(CAST(coalesce(d.dot, 0) AS DOUBLE)
      |            / (sqrt(CAST(ua.s2 AS DOUBLE)) * sqrt(CAST(ub.s2 AS DOUBLE)))
      |            * 1e6 + 0.5e0) AS BIGINT)
      |        ELSE 0 END DESC, ub.user_id) AS rk
      |    FROM s2 ua CROSS JOIN s2 ub
      |    LEFT JOIN gdots d ON d.ua = ua.user_id AND d.ub = ub.user_id
      |    WHERE ub.user_id != ua.user_id AND ua.user_id % $sampleMod = 0
      |  ) WHERE rk <= $k
      |), gcnt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gold FROM gtop GROUP BY 1),
      |bcnt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_banded FROM btop GROUP BY 1),
      |hcnt AS (
      |  SELECT g.user_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM gtop g JOIN btop b ON b.user_id = g.user_id AND b.neighbor_id = g.neighbor_id
      |  GROUP BY 1
      |)
      |SELECT g.user_id, g.n_gold,
      |  CAST(coalesce(b.n_banded, 0) AS BIGINT) AS n_banded,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST((2 * 1000000 * coalesce(h.n_hit, 0) + g.n_gold)
      |    // (2 * g.n_gold) AS BIGINT) AS recall_micro,
      |  CAST($sampleMod AS INT) AS sample_mod
      |FROM gcnt g LEFT JOIN bcnt b USING (user_id) LEFT JOIN hcnt h USING (user_id)""".stripMargin
  }

  /** Production-face replay (`ts_allpairs_topk`): the banded chain's
    * per-user top-k with cosines — mirrors
    * [[graft.ops.TimeSeries.allPairsNeighbors]].
    */
  private def tsAllPairsTopKOracle(
      k: Int, segments: Int, nbits: Int, bands: Int, maxBucket: Int): String =
    s"""WITH ${tsAllPairsChainCtes(segments, nbits, bands, maxBucket)}
      |SELECT user_id, neighbor_id, CAST(cos_micro AS BIGINT) AS cos_micro,
      |  CAST(rk AS INT) AS rank
      |FROM (
      |  SELECT user_id, neighbor_id, cos_micro, row_number() OVER (PARTITION BY user_id
      |    ORDER BY cos_micro DESC, neighbor_id) AS rk
      |  FROM (SELECT id_a AS user_id, id_b AS neighbor_id, cos_micro FROM scored
      |        UNION ALL
      |        SELECT id_b, id_a, cos_micro FROM scored)
      |) WHERE rk <= $k""".stripMargin

  /** Exact top-1 TS neighbor chain (`top1`), shared by the SAX recall
    * legs — mirrors [[graft.ops.TimeSeries.tsSimilarityTopK]] at k = 1.
    */
  private val TsTop1Ctes: String =
    """srt AS MATERIALIZED (
      |  SELECT user_id, epoch_ms(ts) // 3600000 AS hour,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2
      |), s2t AS MATERIALIZED (
      |  SELECT user_id, CAST(sum(v*v) AS BIGINT) AS s2 FROM srt GROUP BY 1
      |), qst AS (SELECT user_id AS query_user, hour, v AS qv FROM srt WHERE user_id < 4),
      |dotst AS (
      |  SELECT q.query_user, s.user_id, CAST(sum(q.qv * s.v) AS BIGINT) AS dot
      |  FROM srt s JOIN qst q USING (hour) GROUP BY 1, 2
      |), qs2t AS (SELECT user_id AS query_user, s2 AS q_s2 FROM s2t WHERE user_id < 4),
      |gridt AS (
      |  SELECT g.query_user, u.user_id,
      |    g.q_s2 + u.s2 - 2 * coalesce(d.dot, 0) AS dist2,
      |    CASE WHEN u.s2 > 0 AND g.q_s2 > 0 THEN
      |      CAST(floor(CAST(coalesce(d.dot, 0) AS DOUBLE)
      |        / (sqrt(CAST(g.q_s2 AS DOUBLE)) * sqrt(CAST(u.s2 AS DOUBLE)))
      |        * 1e6 + 0.5e0) AS BIGINT)
      |    ELSE 0 END AS cos_micro
      |  FROM s2t u CROSS JOIN qs2t g
      |  LEFT JOIN dotst d ON d.query_user = g.query_user AND d.user_id = u.user_id
      |  WHERE u.user_id != g.query_user
      |), top1 AS (
      |  SELECT query_user, user_id, dist2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_user
      |      ORDER BY cos_micro DESC, user_id) AS rk FROM gridt) WHERE rk = 1
      |)""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("hourly_ewma_counts") { (s, dir) =>
      // Exact dyadic EWMA (α=1/2, 16h truncated lookback) of per-type
      // hourly rates on the DENSE zero-filled hour grid — integer when
      // scaled by 2^16, so the smoothed monitor line is bit-identical in
      // any engine; contributions explode from the sparse nonzero hours,
      // never 16× the span (ops/TimeSeries.scala).
      graft.ops.TimeSeries.ewmaHourly(eventsTable(s, dir))
    }.oracle(
      s"""WITH $HourlyGridCtes
        |), contrib AS (
        |  SELECT event_type, hour + k AS hour, cnt * (1 << (15 - k)) AS w
        |  FROM hc CROSS JOIN (SELECT unnest(range(16)) AS k) ks
        |), agg AS (
        |  SELECT event_type, hour, CAST(sum(w) AS BIGINT) AS s
        |  FROM contrib GROUP BY 1, 2
        |)
        |SELECT g.event_type, g.hour * 3600000 AS hour_ms,
        |  coalesce(hc.cnt, 0) AS cnt, coalesce(a.s, 0) AS ewma_x65536
        |FROM grid g
        |LEFT JOIN hc ON hc.event_type = g.event_type AND hc.hour = g.hour
        |LEFT JOIN agg a ON a.event_type = g.event_type AND a.hour = g.hour""".stripMargin),
    Query("hourly_holt_forecast") { (s, dir) =>
      // Holt level/trend/one-step forecast of per-type hourly rates, all
      // exact integers scaled 2^24 via the dyadic impulse-response table
      // — the EWMA's sibling that doesn't lag a drifting rate; sparse
      // contribution explosion, one groupBy (ops/TimeSeries.scala).
      graft.ops.TimeSeries.holtHourly(eventsTable(s, dir))
    }.oracle(holtOracle),
    Query("holt_backtest") { (s, dir) =>
      // Does the Holt monitor actually predict better than carrying the
      // last hour forward? Per-type one-step-ahead SAE for both, same
      // 2^24 scale, signed improvement bps — measured on every grid cell
      // with a predecessor (ops/TimeSeries.scala).
      graft.ops.TimeSeries.holtBacktest(eventsTable(s, dir))
    }.oracle(holtBacktestOracle),
    Query("ts_user_similarity_topk") { (s, dir) =>
      // Time-series similarity search ("who behaves like this account"):
      // top-5 users by squared L2 between hourly value series, via the
      // sparse identity d² = S2_q + S2_u − 2·dot over shared hours — one
      // hour-keyed join against the broadcast query series, one
      // (queries × users)-row close, zero-overlap users included exactly
      // (ops/TimeSeries.scala).
      // Optimization r15: memoized (sharedTsTopk5) — the frame is also
      // the gold of ts_sketch_rerank_recall and ts_sax_blocking_recall.
      sharedTsTopk5(s, dir)
    }.oracle(tsBruteTopKOracle),
    Query("ts_paa_pruned_topk") { (s, dir) =>
      // The TS search with a blocking scheme that provably works: a
      // per-segment energy sketch gives a Cauchy–Schwarz cosine UPPER
      // bound (integer-exact isqrt arithmetic), a 2k seed sets the exact
      // threshold, and the hour-level dot join runs only on candidates
      // whose bound clears it — output bit-identical to the brute search
      // (its oracle IS the brute SQL), the GEMINI contract the SAX sweep
      // showed equal-word bucketing cannot meet (ops/TimeSeries.scala).
      // Optimization r15: the 180-segment chain is the memoized
      // sharedPaaChain — shared with the prune-stats sweep's 180 leg.
      graft.ops.TimeSeries.tsPaaPrunedTopKFrom(sharedPaaChain(s, dir, 180))
    }.oracle(
      // the PAA-pruned search's oracle IS the brute search: a hash match
      // proves the bound never false-dismissed (the GEMINI contract)
      tsBruteTopKOracle),
    Query("ts_paa_prune_stats") { (s, dir) =>
      // The measured selectivity of the PAA bound: per query, candidate
      // count, seed threshold, survivors, pruned share in bps — whether
      // the index actually blocks at this corpus, same discipline as
      // lsh_blocking_recall / ts_sax_blocking_recall
      // (ops/TimeSeries.scala). Optimization r15: the four granularity
      // chains are memoized sharedPaaChain legs (the 180 one shared with
      // ts_paa_pruned_topk) — the sweep no longer re-runs 4 corpus passes
      // + 4 sketch builds per bench pass.
      graft.ops.TimeSeries.tsPaaPruneStatsFrom(
        Seq(8, 32, 64, 180).map(g => g -> sharedPaaChain(s, dir, g)))
    }.oracle(tsPaaPruneStatsOracle(Seq(8, 32, 64, 180))),
    Query("ts_sketch_rerank_recall") { (s, dir) =>
      // The two-stage path for all-pairs TS similarity: rank every
      // candidate by 180-number sketch cosine (PAA projection), exact-
      // verify only the top-C — the sweep measures what candidate budget
      // C retains of the exact top-5, per query (the PQ-ADC two-stage
      // discipline applied to series; ops/TimeSeries.scala).
      // Optimization r15: rides the memoized hour-series pass and the
      // sharedTsTopk5 gold instead of rebuilding both per bench pass.
      graft.ops.TimeSeries.tsSketchRerankRecallFrom(
        sharedPaaSeries(s, dir)._1,
        sharedTsTopk5(s, dir).select(col("query_user"), col("user_id")))
    }.oracle(tsSketchRerankOracle(180, 5, Seq(10, 25, 50, 100))),
    Query("ts_allpairs_neighbors") { (s, dir) =>
      // The ALL-PAIRS production path closed: signed-PAA sketches hash
      // through md5 sign planes (SimHash-family LSH), 4 bands × 4 bits
      // bucket the candidates (never a user×user product), survivors are
      // exact-verified and heap-ranked per user; the row reports per-user
      // recall vs the exact cosine top-5 gold — the measured price of the
      // banding. Priced finding: true neighbors here sit at cos ≈ 0.25,
      // where sign planes are near coin-flips — recall is only ~1.45× a
      // random sample at every swept config, so banding serves the
      // near-dup (cos ≳ 0.7) regime and the sketch-RANKED budget path
      // stays the low-cosine stage 1. The meter runs on the
      // deterministic 1-in-4 query stratum (sample_mod column): the
      // gold still ranks the FULL corpus per measured user, but the
      // by-definition-quadratic grid costs a quarter — the r12 verdict's
      // trim of the registry's heaviest row (ops/TimeSeries.scala).
      val (series, s2, topk) = sharedTsAllpairs(s, dir)
      graft.ops.TimeSeries.allPairsRecallFrom(
        series, s2, topk.select(col("user_id"), col("neighbor_id")), sampleMod = 4)
    }.oracle(tsAllPairsOracle(5, 180, 16, 4, 1000, sampleMod = 4)),
    Query("ts_allpairs_topk") { (s, dir) =>
      // The production face of the banded all-pairs search: per user, the
      // top-5 banded-and-exact-verified neighbors with their cosines —
      // what a pipeline would materialize next to the corpus
      // (ops/TimeSeries.scala; recall priced by ts_allpairs_neighbors).
      sharedTsAllpairs(s, dir)._3
    }.oracle(tsAllPairsTopKOracle(5, 180, 16, 4, 1000)),
    Query("ts_sax_words") { (s, dir) =>
      // SAX symbolic words over per-user hourly series: global-span PAA
      // slice means (exact micro), data-driven quartile breakpoints
      // (distributed CDF selection), strict-> symbol counts — the
      // indexable face of the TS similarity search; equal words = one
      // word-keyed equi-join at 10^9 users (ops/TimeSeries.scala).
      // Optimization r15: the memoized 4-segment word frame, shared with
      // the blocking-recall sweep, off the shared hour-series pass.
      sharedSaxWords(s, dir, 4)
    }.oracle(s"WITH ${saxChain(4, "x")}\nSELECT user_id, word FROM wx"),
    Query("ts_sax_blocking_recall") { (s, dir) =>
      // Does SAX blocking keep the true nearest neighbor? Per query
      // user: its word, the exact top-1 neighbor, the neighbor's word,
      // same-bucket flag — the measured blocking-recall row the banded
      // dedup/ANN families carry, extended to the TS index
      // (ops/TimeSeries.scala). Optimization r15: top-1 is the rank-1
      // slice of the memoized sharedTsTopk5 (same window, same order —
      // identical rows), and the three word frames are the memoized
      // sharedSaxWords legs.
      graft.ops.TimeSeries.saxBlockingRecallFrom(
        sharedTsTopk5(s, dir).filter(col("rank") === 1)
          .select(col("query_user"), col("user_id").as("top1_user"), col("dist2")),
        segs => sharedSaxWords(s, dir, segs),
        segmentSweep = Seq(1, 2, 4))
    }.oracle({
      val chains = Seq(1, 2, 4).map(k => saxChain(k, s"k$k")).mkString(",\n")
      val legs = Seq(1, 2, 4).map { k =>
        s"""SELECT CAST($k AS INT) AS segments, t.query_user, wq.word,
          |  t.user_id AS top1_user, wt.word AS top1_word,
          |  CAST(t.dist2 AS BIGINT) AS dist2,
          |  CAST(wq.word = wt.word AS INT) AS same_bucket
          |FROM top1 t
          |JOIN wk$k wq ON wq.user_id = t.query_user
          |JOIN wk$k wt ON wt.user_id = t.user_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $chains,
        |$TsTop1Ctes
        |$legs""".stripMargin
    }),
    Query("ts_dtw_topk") { (s, dir) =>
      // Banded DTW similarity over hour-of-day profiles — the
      // phase-tolerant complement to the cosine TS family: "who spends
      // like this account, even if their day runs ±4h late". Dense
      // 24-cell integer profiles (one corpus groupBy), Sakoe–Chiba DP as
      // one codegen'd call per pair (functions/DtwExpr.scala); this face
      // is the brute gold, queries bounded + broadcast; shared with the
      // all-pairs recall meter (ops/DtwSearch.scala).
      sharedDtwGold(s, dir)
    }.oracle(tsDtwBruteOracle),
    Query("ts_dtw_allpairs_topk") { (s, dir) =>
      // DTW at ALL-PAIRS scale — the ts_allpairs discipline applied to
      // the phase-tolerant distance: candidate generation is BUCKETED
      // on the sorted quantized profile (a cyclic shift permutes the 24
      // cells, so shifted twins collide in EVERY offset lattice — an
      // exact invariant, not a probabilistic sketch), LB_Keogh screens
      // each directed candidate, a seed subset prices the per-user
      // threshold, and the O(24·9) DP runs once per unordered pair that
      // survives — lossless WITHIN candidates by the dtwPrunedTopK
      // proof. Never a user×user product (plan-guarded)
      // (ops/DtwSearch.scala).
      graft.ops.DtwSearch.dtwAllPairsTopK(sharedDtwAllpairs(s, dir))
    }.oracle(tsDtwAllPairsTopKOracle(4, 5, 12288L, 4, 500, 4)),
    Query("ts_dtw_allpairs_stats") { (s, dir) =>
      // The measured prune face of the all-pairs chain: per user —
      // banded candidate directions, seeds, exact threshold (−1 when
      // the sentinel kept everyone), bound survivors, pruned bps.
      // Honest finding at sf0.1: even with 527/1400 live thresholds,
      // pruned_bps is 0 EVERYWHERE — sorted-profile bucket-mates are
      // already near-equivalent, so the envelope bound cannot separate
      // inside buckets; its 2–56% prune lives at the brute-grid regime
      // (ts_dtw_prune_stats). The DP-per-candidate cost IS the chain's
      // true cost, and candidates are 1% of the grid
      // (ops/DtwSearch.scala).
      graft.ops.DtwSearch.dtwAllPairsStats(sharedDtwAllpairs(s, dir))
    }.oracle(tsDtwAllPairsStatsOracle(4, 5, 12288L, 4, 500, 4)),
    Query("ts_dtw_allpairs_recall") { (s, dir) =>
      // The recall meter: what the BUCKETING misses, priced against the
      // brute banded-DTW gold for the bounded query stratum (< 4) — the
      // ts_allpairs_neighbors discipline for the phase-tolerant family;
      // gold shared with ts_dtw_topk (ops/DtwSearch.scala).
      graft.ops.DtwSearch.dtwAllPairsRecall(
        sharedDtwAllpairs(s, dir), sharedDtwGold(s, dir))
    }.oracle(tsDtwAllPairsRecallOracle(4, 5, 12288L, 4, 500, 4, 4L)),
    Query("ts_dtw_pruned_topk") { (s, dir) =>
      // The production face: Keogh envelope lower bounds (one codegen'd
      // O(n) call per candidate) screen the grid, a deterministic seed
      // subset prices the exact threshold, and the O(n·(2r+1)) DP runs
      // only on survivors — bit-identical to the brute gold because
      // LB_Keogh is admissible (Keogh & Ratanamahatana, KAIS 2005); its
      // oracle IS the brute SQL (ops/DtwSearch.scala).
      graft.ops.DtwSearch.dtwPrunedTopK(eventsTable(s, dir))
    }.oracle(
      // the pruned DTW search's oracle IS the brute DTW search: a hash
      // match proves LB_Keogh never false-dismissed (the GEMINI contract)
      tsDtwBruteOracle),
    Query("ts_dtw_prune_stats") { (s, dir) =>
      // The measured selectivity of the envelope bound per band width
      // r ∈ {1, 4, 8}: candidates, seeds, exact threshold, survivors,
      // pruned bps — the planner's number for choosing the warp budget,
      // same discipline as ts_paa_prune_stats (ops/DtwSearch.scala).
      graft.ops.DtwSearch.dtwPruneStats(eventsTable(s, dir))
    }.oracle(tsDtwPruneStatsOracle(Seq(1, 4, 8), 5, 16)),
    Query("daily_theil_sen") { (s, dir) =>
      // Robust trend per event type: median of all pairwise daily-count
      // slopes (exact signed micro rationals; the doubled-median trick
      // avoids a final rounding). Pairs and the median window run on the
      // span-bounded dense grid, type-partitioned
      // (ops/TimeSeries.scala).
      graft.ops.TimeSeries.theilSenDaily(eventsTable(s, dir))
    }.oracle(
      """WITH dc AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), b AS (SELECT min(day) AS lo, max(day) AS hi FROM dc),
        |grid AS (
        |  SELECT t.event_type, g.d AS day
        |  FROM (SELECT DISTINCT event_type FROM dc) t
        |  CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b))) AS d) g
        |), dense AS (
        |  SELECT g.event_type, g.day, coalesce(dc.cnt, 0) AS cnt
        |  FROM grid g LEFT JOIN dc ON dc.event_type = g.event_type AND dc.day = g.day
        |), pr AS (
        |  SELECT a.event_type,
        |    2000000 * (bb.cnt - a.cnt) + (bb.day - a.day) AS q,
        |    2 * (bb.day - a.day) AS dv
        |  FROM dense a JOIN dense bb
        |    ON bb.event_type = a.event_type AND a.day < bb.day
        |), sl AS (
        |  SELECT event_type, (q - ((q % dv) + dv) % dv) // dv AS slope_micro FROM pr
        |), r AS (
        |  SELECT event_type, slope_micro,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope_micro) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM sl
        |), m AS (
        |  SELECT event_type, max(n) AS n_pairs, CAST(count(*) AS BIGINT) AS k,
        |    sum(slope_micro) AS s
        |  FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1
        |)
        |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(CASE WHEN k = 1 THEN 2 * s ELSE s END AS BIGINT) AS slope_micro_x2
        |FROM m""".stripMargin),
    Query("hourly_stl_decomposition") { (s, dir) =>
      // STL-lite additive decomposition of per-type hourly counts:
      // cnt·1e6 = centered-25h-MA trend + hour-of-day seasonal +
      // residual, exact integer micro with the identity holding row for
      // row — the decomposition the EWMA/seasonal/changepoint screens
      // implicitly assume, made explicit. Interior hours only (full
      // window), both windows type-partitioned (ops/TimeSeries.scala).
      graft.ops.TimeSeries.stlDecomposition(eventsTable(s, dir))
    }.oracle(
      s"""WITH $HourlyGridCtes
        |), dense AS (
        |  SELECT g.event_type, g.hour, coalesce(hc.cnt, 0) AS cnt
        |  FROM grid g LEFT JOIN hc ON hc.event_type = g.event_type AND hc.hour = g.hour
        |), tw AS (
        |  SELECT event_type, hour, cnt,
        |    count(*) OVER w AS n_win, CAST(sum(cnt) OVER w AS BIGINT) AS sum_win
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        |), tr AS MATERIALIZED (
        |  SELECT event_type, hour, cnt,
        |    CAST((2000000 * sum_win + 25) // 50 AS BIGINT) AS trend_micro,
        |    CAST(cnt * 1000000 - ((2000000 * sum_win + 25) // 50) AS BIGINT) AS detr_micro
        |  FROM tw WHERE n_win = 25
        |), se AS (
        |  SELECT event_type, hour % 24 AS hod,
        |    CAST(sum(detr_micro) AS HUGEINT) AS s, CAST(count(*) AS HUGEINT) AS n
        |  FROM tr GROUP BY 1, 2
        |), sm AS (
        |  SELECT event_type, hod,
        |    CAST((2*s + n - (((2*s + n) % (2*n)) + 2*n) % (2*n)) // (2*n) AS BIGINT) AS seasonal_micro
        |  FROM se
        |)
        |SELECT t.event_type, t.hour, t.cnt, t.trend_micro, sm.seasonal_micro,
        |  CAST(t.detr_micro - sm.seasonal_micro AS BIGINT) AS resid_micro
        |FROM tr t JOIN sm ON sm.event_type = t.event_type AND sm.hod = t.hour % 24""".stripMargin),
    Query("seasonal_hour_flags") { (s, dir) =>
      // Diurnal-corrected spike/dip flags: each (type, hour) cell vs its
      // hour-of-day mean over the dense span (zero hours included),
      // division-free cross-multiplied comparisons — the seasonal
      // complement to rate_spike_hours' flat per-user average
      // (ops/TimeSeries.scala).
      graft.ops.TimeSeries.seasonalHourFlags(eventsTable(s, dir))
    }.oracle(
      s"""WITH $HourlyGridCtes
        |), dense AS (
        |  SELECT g.event_type, g.hour, coalesce(hc.cnt, 0) AS cnt
        |  FROM grid g LEFT JOIN hc ON hc.event_type = g.event_type AND hc.hour = g.hour
        |), hod AS (
        |  SELECT event_type, hour % 24 AS hod, CAST(sum(cnt) AS BIGINT) AS hod_total,
        |    CAST(count(*) AS BIGINT) AS hod_cells
        |  FROM dense GROUP BY 1, 2
        |)
        |SELECT d.event_type, d.hour * 3600000 AS hour_ms, d.hour % 24 AS hod, d.cnt,
        |  h.hod_total, h.hod_cells,
        |  CAST(CASE WHEN d.cnt * h.hod_cells > h.hod_total * 2 THEN 1 ELSE 0 END AS INT) AS spike,
        |  CAST(CASE WHEN d.cnt * h.hod_cells * 2 < h.hod_total THEN 1 ELSE 0 END AS INT) AS dip
        |FROM dense d JOIN hod h ON h.event_type = d.event_type AND h.hod = d.hour % 24""".stripMargin),
    Query("event_autocorr") { (s, dir) =>
      // Seasonality detector: per-type autocorrelation of the hourly
      // series at lags 1..24 over the dense zero-filled grid — a diurnal
      // cycle reads as the lag-24 spike. Exact integer moments, IEEE
      // sqrt only in the final r (ops/TimeSeries.scala).
      graft.ops.TimeSeries.autocorrHourly(eventsTable(s, dir), maxLag = 24)
    }.oracle(
      s"""WITH $HourlyGridCtes
        |), dense AS (
        |  SELECT g.event_type, g.hour, CAST(coalesce(hc.cnt, 0) AS HUGEINT) AS cnt
        |  FROM grid g LEFT JOIN hc ON hc.event_type = g.event_type AND hc.hour = g.hour
        |), lags AS (SELECT unnest(range(1, 25)) AS lag),
        |j AS (
        |  SELECT da.event_type, lags.lag, da.cnt AS ca, db.cnt AS cb
        |  FROM dense da CROSS JOIN lags
        |  JOIN dense db ON db.event_type = da.event_type AND db.hour = da.hour + lags.lag
        |), a AS (
        |  SELECT event_type, lag, CAST(count(*) AS HUGEINT) AS n,
        |    sum(ca) AS sa, sum(cb) AS sb, sum(ca * cb) AS sab,
        |    sum(ca * ca) AS saa, sum(cb * cb) AS sbb
        |  FROM j GROUP BY 1, 2
        |)
        |SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_hours,
        |  CAST(n * sab - sa * sb AS BIGINT) AS ncov,
        |  CAST(CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
        |    floor(CAST(n * sab - sa * sb AS DOUBLE)
        |      / (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
        |      * 1000.0 + 0.5)
        |    END AS BIGINT) AS r_milli
        |FROM a""".stripMargin)
  )
}
