package graft.registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Parse, Scoring}
import graft.sinks.TextSink
import graft.registry.Shared._

/** Gaming and event-stream queries over the `events` table: the parsed
  * and scored reference pipelines (UserScore, HourlyTeamScore, LeaderBoard's
  * batch faces), funnels, sessions and journeys, as-of and range joins, and
  * the layout reports over the event files.
  */
object GamingQueries {

  // Fixed strict bounds for the HourlyTeamScore-style queries (events span
  // 2024-01-01 .. 2024-01-30 UTC; reference bounds are strict > / <,
  // HourlyTeamScore.java:82-87).
  private val StartMs = 1704412800000L // 2024-01-05 00:00:00 UTC
  private val StopMs = 1706140800000L  // 2024-01-25 00:00:00 UTC

  val entries: Seq[Query] = Seq(
    Query("parse_roundtrip") { (s, dir) =>
      // P1: format the events table into the injector's 5-field CSV layout,
      // then run the tolerant parser; oracle computes the same projection
      // directly. If parse semantics drift, hashes diverge.
      val ev = eventsTable(s, dir)
      val lines = Parse.formatCsv(
        ev,
        col("user_id").cast("string"),
        col("event_type"),
        floor(col("value") * 100 + 0.5).cast("int"),
        col("ts_ms")
      )
      Parse.parseGameEvents(lines).select(col("user"), col("team"), col("score"), col("timestamp"))
    }.oracle(
      """SELECT CAST(user_id AS VARCHAR) AS "user", event_type AS team,
        |  CAST(floor(value*100 + 0.5) AS INT) AS score,
        |  epoch_ms(ts) AS timestamp
        |FROM events""".stripMargin),
    Query("user_score") { (s, dir) =>
      // C1 with key "user" (UserScore pipeline core).
      val ev = eventsTable(s, dir).select(
        col("user_id").cast("string").as("user"),
        col("event_type").as("team"),
        cents(col("value")).as("score")
      )
      Scoring.extractAndSumScore(ev, "user")
    }.oracle(
      """SELECT CAST(user_id AS VARCHAR) AS key,
        |  CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_score
        |FROM events GROUP BY 1""".stripMargin),
    Query("team_score") { (s, dir) =>
      // C1 with key "team" (getKey("team") branch).
      val ev = eventsTable(s, dir).select(
        col("user_id").cast("string").as("user"),
        col("event_type").as("team"),
        cents(col("value")).as("score")
      )
      Scoring.extractAndSumScore(ev, "team")
    }.oracle(
      """SELECT event_type AS key,
        |  CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_score
        |FROM events GROUP BY 1""".stripMargin),
    Query("hourly_team_score") { (s, dir) =>
      // HourlyTeamScore: strict bounds (P3/P4), event-time promotion (P5),
      // 60-min tumbling windows (W1), per-(window, team) sum (A2).
      // The semantic bounds filter on derived millis (ts DIV 1e6) cannot
      // reach the parquet scan; this raw range is exactly equivalent
      // (ts_ms > a ⟺ ts ≥ (a+1)·1e6; ts_ms < b ⟺ ts < b·1e6) and is applied
      // to the native file column inside eventsTableRange so it pushes
      // down — at scale row groups outside the window are never read.
      val ev = eventsTableRange(s, dir, Some(((StartMs + 1) * 1000000L, StopMs * 1000000L)))
        .select(
        col("event_type").as("team"),
        cents(col("value")).as("score"),
        col("ts_ms").as("timestamp"),
        col("event_time")
      )
      Scoring
        .hourlyTeamScore(ev, windowMinutes = 60, startMs = StartMs, stopMs = StopMs)
        .select(
          unix_millis(col("window_start")).as("window_start_ms"),
          col("team"),
          col("total_score")
        )
    }.oracle(
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  event_type AS team,
        |  CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_score
        |FROM events
        |WHERE epoch_ms(ts) > 1704412800000 AND epoch_ms(ts) < 1706140800000
        |GROUP BY 1, 2""".stripMargin),
    Query("leaderboard_top3") { (s, dir) =>
      // Batch leaderboard: top-3 teams per hour (rank analytic; deterministic
      // tie-break on team name).
      val ev = eventsTable(s, dir).select(
        col("event_type").as("team"),
        cents(col("value")).as("score"),
        col("ts_ms").as("timestamp"),
        col("event_time")
      )
      val hourly = Scoring.hourlyTeamScore(ev, 60)
      val w = Window
        .partitionBy(col("window_start"))
        .orderBy(col("total_score").desc, col("team"))
      hourly
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(
          unix_millis(col("window_start")).as("window_start_ms"),
          col("team"),
          col("total_score"),
          col("rank")
        )
    }.oracle(
      """WITH hourly AS (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |    event_type AS team,
        |    CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_score
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY window_start_ms
        |    ORDER BY total_score DESC, team) AS INT) AS rank
        |  FROM hourly
        |)
        |SELECT window_start_ms, team, total_score, rank FROM ranked WHERE rank <= 3""".stripMargin),
    Query("user_running_total") { (s, dir) =>
      // Batch analogue of the streaming global-window running user total
      // (W5/C3): cumulative per-user sum in event order (event_id tie-break).
      val ev = eventsTable(s, dir)
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(
        col("user_id"),
        col("event_id"),
        col("ts_ms"),
        sum(cents(col("value"))).over(w).as("running_total")
      )
    }.oracle(
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |  CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total
        |FROM events""".stripMargin),
    Query("sliding_team_score") { (s, dir) =>
      // Sliding windows (60-min window, 30-min slide): every event lands in
      // two windows; oracle reproduces assignment by unnesting both offsets.
      val ev = eventsTable(s, dir).select(
        col("event_type").as("team"),
        cents(col("value")).as("score"),
        col("event_time")
      )
      ev.groupBy(window(col("event_time"), "60 minutes", "30 minutes"), col("team"))
        .agg(sum(col("score")).as("total_score"))
        .select(
          unix_millis(col("window.start")).as("window_start_ms"),
          col("team"),
          col("total_score")
        )
    }.oracle(
      """WITH assigned AS (
        |  SELECT event_type AS team,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS score,
        |    epoch_ms(ts) - (epoch_ms(ts) % 1800000) - off AS window_start_ms
        |  FROM events, (SELECT unnest([0, 1800000]) AS off)
        |)
        |SELECT window_start_ms, team, CAST(sum(score) AS BIGINT) AS total_score
        |FROM assigned
        |GROUP BY 1, 2""".stripMargin),
    Query("funnel_counts") { (s, dir) =>
      // Ordered-sequence funnel with a conversion window (view → click
      // within 1h → purchase within 1h) via the parameterized operator
      // (ops/Funnel.scala): stage times as stacked conditional-min windows
      // over ONE user partition (same partitioning → one exchange, no
      // self-joins, no per-user event collection). The standard
      // product-analytics query at event-log scale.
      val hourMs = 3600000L
      graft.ops.Funnel
        .funnelCounts(
          eventsTable(s, dir),
          first = "view",
          rest = Seq("click" -> hourMs, "purchase" -> hourMs))
        .select(
          col("n_users"),
          col("s1").as("n_view"),
          col("s2").as("n_view_click"),
          col("s3").as("n_full_funnel"))
    }.oracle(
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
        |), w1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_ms END)
        |    OVER (PARTITION BY user_id) AS t1 FROM e
        |), w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts_ms > t1
        |                      AND ts_ms <= t1 + 3600000 THEN ts_ms END)
        |    OVER (PARTITION BY user_id) AS t2 FROM w1
        |), w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_ms > t2
        |                      AND ts_ms <= t2 + 3600000 THEN ts_ms END)
        |    OVER (PARTITION BY user_id) AS t3 FROM w2
        |), u AS (
        |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3 FROM w3 GROUP BY 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        |  CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM u""".stripMargin),
    Query("funnel_counts_4step") { (s, dir) =>
      // Same operator, deeper funnel (signup → view 2h → click 1h →
      // purchase 1h): stages add window expressions, not exchanges.
      graft.ops.Funnel.funnelCounts(
        eventsTable(s, dir),
        first = "signup",
        rest = Seq("view" -> 7200000L, "click" -> 3600000L, "purchase" -> 3600000L))
    }.oracle(
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
        |), w1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'signup' THEN ts_ms END)
        |    OVER (PARTITION BY user_id) AS t1 FROM e
        |), w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' AND ts_ms > t1
        |                      AND ts_ms <= t1 + 7200000 THEN ts_ms END)
        |    OVER (PARTITION BY user_id) AS t2 FROM w1
        |), w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts_ms > t2
        |                      AND ts_ms <= t2 + 3600000 THEN ts_ms END)
        |    OVER (PARTITION BY user_id) AS t3 FROM w2
        |), w4 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_ms > t3
        |                      AND ts_ms <= t3 + 3600000 THEN ts_ms END)
        |    OVER (PARTITION BY user_id) AS t4 FROM w3
        |), u AS (
        |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3, max(t4) AS t4
        |  FROM w4 GROUP BY 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |  CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s3,
        |  CAST(sum(CASE WHEN t4 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s4
        |FROM u""".stripMargin),
    Query("user_retention_sets") { (s, dir) =>
      // Set-operation coverage (absent in the reference — Beam's Flatten is
      // unused there): INTERSECT = retained users (active in both January
      // halves), EXCEPT = churned / new-only. Each leg is a distinct-agg
      // shuffle over user ids only.
      val ev = eventsTable(s, dir)
      val mid = 1705276800000L // 2024-01-15 00:00:00 UTC
      // each half feeds 2-3 set operations — cache the (tiny) distinct
      // user-id frames instead of re-scanning events per leg, checkpoint
      // the result, release (Dedup's discipline)
      val firstHalf = ev.filter(col("ts_ms") < mid).select(col("user_id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val secondHalf = ev.filter(col("ts_ms") >= mid).select(col("user_id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val retained = firstHalf.intersect(secondHalf)
          .select(col("user_id"), lit("retained").as("cohort"))
        val churned = firstHalf.except(secondHalf)
          .select(col("user_id"), lit("churned").as("cohort"))
        val newOnly = secondHalf.except(firstHalf)
          .select(col("user_id"), lit("new").as("cohort"))
        retained.union(churned).union(newOnly).localCheckpoint(eager = true)
      } finally {
        firstHalf.unpersist(blocking = false)
        secondHalf.unpersist(blocking = false)
      }
    }.oracle(
      """WITH f AS (SELECT DISTINCT user_id FROM events WHERE epoch_ms(ts) < 1705276800000),
        |s AS (SELECT DISTINCT user_id FROM events WHERE epoch_ms(ts) >= 1705276800000)
        |SELECT user_id, 'retained' AS cohort FROM (SELECT user_id FROM f INTERSECT SELECT user_id FROM s)
        |UNION ALL
        |SELECT user_id, 'churned' AS cohort FROM (SELECT user_id FROM f EXCEPT SELECT user_id FROM s)
        |UNION ALL
        |SELECT user_id, 'new' AS cohort FROM (SELECT user_id FROM s EXCEPT SELECT user_id FROM f)""".stripMargin),
    Query("user_sessions") { (s, dir) =>
      // Session-window aggregation (gap 30 min): a windowing mode the
      // reference lacks; oracle reproduces it with gaps-and-islands SQL.
      val ev = eventsTable(s, dir).select(
        col("user_id"),
        cents(col("value")).as("score"),
        col("event_time")
      )
      Scoring.sessionScores(ev, "user_id", gapMinutes = 30)
    }.oracle(
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS score
        |  FROM events
        |), marked AS (
        |  SELECT *, CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |    OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 1800000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), sess AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked
        |)
        |SELECT user_id, min(ms) AS session_start_ms,
        |  CAST(sum(score) AS BIGINT) AS session_score,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin),
    Query("text_format_rows") { (s, dir) =>
      // P6/C4: fixed-order "k: v, k: v" text rows over the user totals.
      val ev = eventsTable(s, dir).select(
        col("user_id").cast("string").as("user"),
        col("event_type").as("team"),
        cents(col("value")).as("score")
      )
      val totals = Scoring.extractAndSumScore(ev, "user")
      TextSink.formatRows(totals, Seq("user" -> col("key"), "total_score" -> col("total_score")))
    }.oracle(
      """SELECT 'user: ' || CAST(user_id AS VARCHAR) || ', total_score: ' ||
        |  CAST(CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS VARCHAR) AS line
        |FROM events GROUP BY user_id""".stripMargin),
    Query("user_event_types_salted") { (s, dir) =>
      // Skew-mitigated holistic aggregation (ops/Skew.saltedAgg): exact
      // per-user distinct event-type count via the two-phase salt split —
      // a hot key's collect_set spreads over `salts` tasks before the
      // merge. Results are salt-invariant, so the oracle is the plain
      // COUNT(DISTINCT).
      graft.ops.Skew
        .saltedAgg(
          eventsTable(s, dir).select(col("user_id"), col("event_type")),
          key = "user_id",
          salts = 8,
          partial = collect_set,
          merge = c => size(array_distinct(flatten(collect_list(c)))).cast("long"),
          valueCol = "event_type",
          outCol = "n_event_types"
        )
    }.oracle(
      """SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
        |FROM events GROUP BY 1""".stripMargin),
    Query("event_gaps") { (s, dir) =>
      // Analytic-function breadth beyond rank/sum: lag, lead, and
      // unbounded-frame first/last per user. Ordering key is (ts_ms,
      // event_id) in BOTH engines — ordering by raw nanos could disagree
      // with millis order for same-ms events.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      eventsTable(s, dir).select(
        col("user_id"),
        col("event_id"),
        col("ts_ms"),
        (col("ts_ms") - lag(col("ts_ms"), 1).over(w)).as("prev_gap_ms"),
        (lead(col("ts_ms"), 1).over(w) - col("ts_ms")).as("next_gap_ms"),
        first(col("event_id")).over(wAll).as("first_event_id"),
        last(col("event_id")).over(wAll).as("last_event_id")
      )
    }.oracle(
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS prev_gap_ms,
        |  lead(epoch_ms(ts)) OVER w - epoch_ms(ts) AS next_gap_ms,
        |  first_value(event_id) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_event_id,
        |  last_value(event_id) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)""".stripMargin),
    Query("props_json_stats") { (s, dir) =>
      // Semi-structured coverage: parse the JSON props column, bucket by the
      // extracted field. get_json_object is codegen'd path extraction — no
      // UDF, no whole-document parse into a struct.
      eventsTable(s, dir)
        .select(
          expr("CAST(CAST(get_json_object(props, '$.k') AS INT) DIV 10 AS INT)").as("k_decile"),
          cents(col("value")).as("c")
        )
        .groupBy(col("k_decile"))
        .agg(count(lit(1)).as("n_events"), sum(col("c")).as("sum_value_cents"))
    }.oracle(
      """SELECT CAST(CAST(json_extract(props, '$.k') AS INT) // 10 AS INT) AS k_decile,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1""".stripMargin),
    Query("asof_latest_high_event") { (s, dir) =>
      // As-of join (operator Spark lacks; ops/AsOf.scala): for every event,
      // the user's most recent high-value event (≥ 200.00) at or before it —
      // one exchange on user_id, no non-equi join blowup. Oracle: DuckDB's
      // native ASOF LEFT JOIN.
      val e = eventsTable(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_ms"), cents(col("value")).as("c"))
      val hi = e
        .filter(col("c") >= 20000)
        .groupBy(col("user_id"), col("ts_ms").as("hts_ms"))
        .agg(max(col("c")).as("hi_cents"))
      graft.ops.AsOf
        .asofJoin(e.drop("c"), hi, keys = Seq("user_id"), leftTime = "ts_ms", rightTime = "hts_ms")
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("hts_ms_asof"), col("hi_cents"))
    }.oracle(
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        |         CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |), hi AS (
        |  SELECT user_id, ts_ms AS hts_ms, CAST(max(cents) AS BIGINT) AS hi_cents
        |  FROM e WHERE cents >= 20000 GROUP BY 1, 2
        |)
        |SELECT e.event_id, e.user_id, e.ts_ms, hi.hts_ms AS hts_ms_asof, hi.hi_cents
        |FROM e ASOF LEFT JOIN hi ON e.user_id = hi.user_id AND e.ts_ms >= hi.hts_ms""".stripMargin),
    Query("range_join_hot_windows") { (s, dir) =>
      // Range join (ops/RangeJoin.scala): events landing in the 6-hour
      // window after any of the same user's high-value events — bucketed
      // equi-join (1h buckets) + residual filter, never a nested-loop
      // non-equi join. Oracle: DuckDB non-equi join (affordable at sf0.01).
      val e = eventsTable(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_ms"), cents(col("value")).as("c"))
      val hot = e
        .filter(col("c") >= 20000)
        .select(
          col("user_id"),
          col("event_id").as("hot_event_id"),
          col("ts_ms").as("win_start"),
          (col("ts_ms") + 21600000L).as("win_end")
        )
      graft.ops.RangeJoin
        .pointInInterval(
          e.drop("c"), hot,
          keys = Seq("user_id"), pointTime = "ts_ms",
          startCol = "win_start", endCol = "win_end", bucketWidth = 3600000L
        )
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("hot_event_id"), col("win_start"))
    }.oracle(
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        |         CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |), hot AS (
        |  SELECT user_id, event_id AS hot_event_id, ts_ms AS win_start,
        |         ts_ms + 21600000 AS win_end
        |  FROM e WHERE cents >= 20000
        |)
        |SELECT e.event_id, e.user_id, e.ts_ms, hot.hot_event_id, hot.win_start
        |FROM e JOIN hot ON e.user_id = hot.user_id
        |  AND e.ts_ms >= hot.win_start AND e.ts_ms < hot.win_end""".stripMargin),
    Query("zorder_events") { (s, dir) =>
      // Z-order (Morton) interleave of (user, hour) — the write-side layout
      // key for two-dimensional scan pruning; pure bit arithmetic, oracle
      // reproduces the interleave exactly.
      eventsTable(s, dir).select(
        col("event_id"),
        graft.ops.Layout.zValue(col("user_id"), expr("ts_ms DIV 3600000"), 16).as("zv")
      )
    }.oracle(
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    (((user_id >> i) & 1) << (2*i)) + ((((epoch_ms(ts) // 3600000) >> i) & 1) << (2*i + 1))
        |  )) AS BIGINT) AS zv
        |FROM events""".stripMargin),
    Query("hilbert_events") { (s, dir) =>
      // Hilbert index over the same (user, hour) plane — consecutive index
      // values are always adjacent cells (the Z-curve jumps), so range
      // scans touch fewer file ranges. Expression-only rotation cascade;
      // the oracle replays it as a recursive CTE (ops/Layout.scala).
      eventsTable(s, dir).select(
        col("event_id"),
        graft.ops.Layout
          .hilbertValue(col("user_id"), expr("ts_ms DIV 3600000"), 16)
          .as("hv")
      )
    }.oracle(
      """WITH RECURSIVE hs AS (
        |  SELECT event_id,
        |    CAST(user_id & 65535 AS BIGINT) AS x,
        |    CAST((epoch_ms(ts) // 3600000) & 65535 AS BIGINT) AS y,
        |    CAST(0 AS BIGINT) AS d, 15 AS i
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |    CASE WHEN ((y >> i) & 1) = 0
        |         THEN (CASE WHEN ((x >> i) & 1) = 1 THEN (CAST(1 AS BIGINT) << i) - 1 - y ELSE y END)
        |         ELSE x END AS x,
        |    CASE WHEN ((y >> i) & 1) = 0
        |         THEN (CASE WHEN ((x >> i) & 1) = 1 THEN (CAST(1 AS BIGINT) << i) - 1 - x ELSE x END)
        |         ELSE y END AS y,
        |    d + (CAST(1 AS BIGINT) << (2 * i)) * xor(3 * ((x >> i) & 1), (y >> i) & 1) AS d,
        |    i - 1 AS i
        |  FROM hs WHERE i >= 0
        |)
        |SELECT event_id, d AS hv FROM hs WHERE i = -1""".stripMargin),
    Query("range_rule_window_counts") { (s, dir) =>
      // The NATURAL non-equi range join — no keys, no manual bucketing —
      // planned scalably by the RangeJoinRewrite optimizer rule
      // (plans/RangeJoinRewrite.scala): per hot event (value ≥ 300.00),
      // how many events fall in its next hour, globally. Without the rule
      // this is a BroadcastNestedLoopJoin (O(events × windows)); the rule
      // rewrites it to a bucketed equi join. GraftExtensions installs the
      // rule on every GraftSession.local session; this bucket width is
      // what turns it on.
      s.conf.set("spark.graft.rangeJoin.bucketWidth", "3600000")
      val e = eventsTable(s, dir).select(col("event_id"), col("ts_ms"))
      val hot = eventsTable(s, dir)
        .filter(cents(col("value")) >= 30000)
        .select(
          col("event_id").as("hot_event_id"),
          col("ts_ms").as("win_start"),
          (col("ts_ms") + 3600000L).as("win_end")
        )
      e.join(hot, col("ts_ms") >= col("win_start") && col("ts_ms") < col("win_end"))
        .groupBy(col("hot_event_id"))
        .agg(count(lit(1)).as("n_events"))
    }.oracle(
      """WITH e AS (
        |  SELECT event_id, epoch_ms(ts) AS ts_ms,
        |         CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |), hot AS (
        |  SELECT event_id AS hot_event_id, ts_ms AS win_start,
        |         ts_ms + 3600000 AS win_end
        |  FROM e WHERE cents >= 30000
        |)
        |SELECT hot_event_id, count(*) AS n_events
        |FROM hot JOIN e ON e.ts_ms >= hot.win_start AND e.ts_ms < hot.win_end
        |GROUP BY 1""".stripMargin),
    Query("scd2_user_event_state") { (s, dir) =>
      // CDC→SCD2 dimension build: collapse each user's consecutive runs of
      // equal event_type into [valid_from, valid_to) validity intervals
      // (epoch ms; NULL = current). Ordering ties break on event_id.
      graft.ops.Scd.scd2(eventsTable(s, dir), "user_id", "event_type", "ts", "event_id")
        .select(
          col("user_id"),
          col("event_type"),
          expr("valid_from DIV 1000000").as("valid_from"),
          expr("valid_to DIV 1000000").as("valid_to"),
          col("version")
        )
    }.oracle(
      """WITH m AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_type, ts, event_id FROM m
        |  WHERE prev IS NULL OR prev != event_type
        |)
        |SELECT user_id, event_type, epoch_ms(ts) AS valid_from,
        |  epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version
        |FROM s""".stripMargin),
    Query("session_paths") { (s, dir) =>
      // Journey mining: top event-type paths over 30-min-gap sessions
      // (first 8 events per session, '>'-joined). One exchange to the
      // user shard for sessionization, one path agg (ops/Journey.scala).
      graft.ops.Journey.sessionPaths(
        eventsTable(s, dir), gapMs = 1800000L, maxSteps = 8)
    }.oracle(
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type FROM events
        |), marked AS (
        |  SELECT *, CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
        |    OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) >= 1800000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), sess AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked
        |), p AS (
        |  SELECT user_id, sid,
        |    array_to_string(list_slice(list(event_type ORDER BY ms, event_id), 1, 8), '>') AS path
        |  FROM sess GROUP BY user_id, sid
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM p GROUP BY path""".stripMargin),
    Query("decayed_user_scores") { (s, dir) =>
      // Time-decayed engagement: per-user sum of value·2^-age_days
      // anchored at the corpus max timestamp. Per-event terms quantize to
      // micro units BEFORE the sum (power-of-two decay is exact scaling,
      // so the only inexact op is one IEEE multiply — identical in both
      // engines); partial aggregation map-side (ops/Journey.scala).
      graft.ops.Journey.decayedScores(
        eventsTable(s, dir), maxAgeDays = 30)
    }.oracle(
      // per-event micro term: value / 2^age (exact scaling) then ONE IEEE
      // multiply by 1e6, floored — identical in any IEEE engine
      """WITH a AS (SELECT max(epoch_ms(ts)) AS anchor_ms FROM events),
        |t AS (
        |  SELECT user_id,
        |    least((a.anchor_ms - epoch_ms(ts)) // 86400000, 30) AS age,
        |    value
        |  FROM events CROSS JOIN a
        |)
        |SELECT user_id,
        |  CAST(sum(CAST(floor(value / CAST((CAST(1 AS BIGINT) << CAST(age AS INT)) AS DOUBLE) * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS decayed_micro,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM t GROUP BY user_id""".stripMargin),
    Query("user_active_time") { (s, dir) =>
      // Interval-union active time: per-user union of 5-min activity
      // windows (gaps-and-islands merge on a running max of ends) — one
      // user-keyed exchange reused by both aggregations
      // (ops/Journey.scala).
      graft.ops.Journey.activeTime(eventsTable(s, dir), windowMs = 300000L)
    }.oracle(
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_id, epoch_ms(ts) + 300000 AS end_ms
        |  FROM events
        |), mk AS (
        |  SELECT *, CASE WHEN max(end_ms) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR ms > max(end_ms) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_grp
        |  FROM e
        |), g AS (
        |  SELECT *, sum(new_grp) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM mk
        |), m AS (
        |  SELECT user_id, grp, min(ms) AS s, max(end_ms) AS e FROM g GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(sum(e - s) AS BIGINT) AS active_ms,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM m GROUP BY user_id""".stripMargin),
    Query("incremental_daily_stats") { (s, dir) =>
      // Incremental state maintenance proven by algebra: per-DAY mergeable
      // states (count/sum/min/max + HLL registers) folded into the
      // all-time profile; the oracle computes the same profile DIRECTLY —
      // equality holds because every component merges order-free
      // (ops/Incremental.scala).
      graft.ops.Incremental.incrementalProfile(eventsTable(s, dir))
    }.oracle(
      // direct profile over the whole table: equals the per-day folded
      // states because counts/sums add, extrema nest, registers max-merge
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS cents,
        |    CAST(('0x' || substr(md5('inc-' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
        |  FROM events
        |), b AS (
        |  SELECT event_type, cents, CAST(hv % 64 AS INT) AS bucket, hv // 64 AS w FROM h
        |), r AS (
        |  SELECT event_type, bucket,
        |    max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS rho
        |  FROM b GROUP BY 1, 2
        |), keys AS (SELECT DISTINCT event_type FROM h),
        |regs AS (
        |  SELECT keys.event_type, g.bucket, CAST(COALESCE(r.rho, 0) AS INT) AS rho
        |  FROM keys CROSS JOIN (SELECT unnest(range(64)) AS bucket) g
        |  LEFT JOIN r ON r.event_type = keys.event_type AND r.bucket = g.bucket
        |), agg AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(1 AS BIGINT) << (32 - rho)) AS BIGINT) AS s_scaled,
        |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM regs GROUP BY 1
        |), prof AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(cents) AS min_cents, max(cents) AS max_cents
        |  FROM b GROUP BY 1
        |)
        |SELECT p.event_type, p.n_events, p.sum_cents, p.min_cents, p.max_cents,
        |  CAST(floor(
        |    CASE WHEN (0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0)) <= 160.0e0
        |          AND v_empty > 0
        |    THEN 64.0e0 * ln(64.0e0 / CAST(v_empty AS DOUBLE))
        |    ELSE 0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0) END
        |    * 1e6 + 0.5e0) AS BIGINT) AS users_est_micro
        |FROM prof p JOIN agg USING (event_type)""".stripMargin),
    Query("user_streaks") { (s, dir) =>
      // Longest consecutive-active-day streak per user: gaps-and-islands
      // on distinct day indices, one user-keyed exchange
      // (ops/Journey.scala).
      graft.ops.Journey.activeStreaks(eventsTable(s, dir))
    }.oracle(
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
        |), g AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d
        |), s AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS streak FROM g GROUP BY user_id, grp
        |)
        |SELECT user_id, CAST(sum(streak) AS BIGINT) AS n_active_days,
        |  CAST(max(streak) AS BIGINT) AS longest_streak,
        |  CAST(count(*) AS BIGINT) AS n_streaks
        |FROM s GROUP BY user_id""".stripMargin),
    Query("zone_map_skip_report") { (s, dir) =>
      // Did the Z-order rewrite buy anything? The SAME events laid out
      // ts-linear vs Morton(user, hour), 1000-row file cuts with
      // (ts_ms, user_id) zone maps, probed by a one-day ts predicate and
      // a user band: linear prunes time and nothing else, the
      // interleave prunes both partially — measured, not asserted
      // (ops/Layout.scala).
      val ev = eventsTable(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_ms"))
        .withColumn("zv",
          graft.ops.Layout.zValue(col("user_id"), expr("ts_ms DIV 3600000"), 16))
      def manifest(order: Seq[org.apache.spark.sql.Column], label: String) =
        graft.ops.Layout
          .rangeFileManifest(ev, order, rowsPerFile = 1000, statCols = Seq("ts_ms", "user_id"))
          .withColumn("layout", lit(label))
      graft.ops.Layout.zoneMapSkipReport(
        manifest(Seq(col("ts_ms").asc, col("event_id").asc), "ts_linear")
          .unionByName(manifest(Seq(col("zv").asc, col("event_id").asc), "zorder")),
        groupCols = Seq("layout"),
        predicates = Seq(
          ("ts_day10", "ts_ms", 1704844800000L, 1704931199999L),
          ("user_band", "user_id", 0L, 63L)))
    }.oracle(
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        |    epoch_ms(ts) // 3600000 AS hour
        |  FROM events
        |), zvt AS (
        |  SELECT event_id, user_id, ts_ms,
        |    CAST(list_sum(list_transform(range(0, 16), i ->
        |      (((user_id >> i) & 1) << (2*i)) + (((hour >> i) & 1) << (2*i + 1))
        |    )) AS BIGINT) AS z
        |  FROM ev
        |), lin AS (
        |  SELECT 'ts_linear' AS layout,
        |    (row_number() OVER (ORDER BY ts_ms, event_id) - 1) // 1000 AS file_id,
        |    user_id, ts_ms
        |  FROM ev
        |), zord AS (
        |  SELECT 'zorder' AS layout,
        |    (row_number() OVER (ORDER BY z, event_id) - 1) // 1000 AS file_id,
        |    user_id, ts_ms
        |  FROM zvt
        |), files AS (
        |  SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
        |    min(ts_ms) AS min_ts_ms, max(ts_ms) AS max_ts_ms,
        |    min(user_id) AS min_user_id, max(user_id) AS max_user_id
        |  FROM (SELECT * FROM lin UNION ALL SELECT * FROM zord) u GROUP BY 1, 2
        |), preds AS (
        |  SELECT * FROM (VALUES
        |    ('ts_day10', 1704844800000, 1704931199999, 'ts_ms'),
        |    ('user_band', 0, 63, 'user_id')) AS t(predicate, lo, hi, c)
        |), j AS (
        |  SELECT f.layout, p.predicate, f.n_rows,
        |    CASE WHEN (CASE WHEN p.c = 'ts_ms' THEN f.max_ts_ms ELSE f.max_user_id END) < p.lo
        |      OR (CASE WHEN p.c = 'ts_ms' THEN f.min_ts_ms ELSE f.min_user_id END) > p.hi
        |    THEN 1 ELSE 0 END AS skip
        |  FROM files f CROSS JOIN preds p
        |)
        |SELECT layout, predicate, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(sum(skip) AS BIGINT) AS files_skipped,
        |  CAST(sum(skip * n_rows) AS BIGINT) AS rows_skipped,
        |  CAST((2 * 10000 * sum(skip * n_rows) + sum(n_rows))
        |    // (2 * sum(n_rows)) AS INT) AS skip_bps
        |FROM j GROUP BY 1, 2""".stripMargin),
    Query("compaction_plan") { (s, dir) =>
      // Small-file OPTIMIZE planning: 700-row file cuts over the event-id
      // order, then files >= 500 rows seal and the small remainder packs
      // into adjacent cumulative bins — zone maps survive the rewrite
      // (ops/Layout.scala).
      val manifest = graft.ops.Layout.rangeFileManifest(
        eventsTable(s, dir).select(col("event_id")),
        Seq(col("event_id").asc),
        rowsPerFile = 700,
        statCols = Seq("event_id"))
      graft.ops.Layout.compactionPlan(manifest, targetRows = 500)
    }.oracle(
      """WITH r AS (
        |  SELECT event_id, row_number() OVER (ORDER BY event_id) AS rk FROM events
        |), f AS (
        |  SELECT (rk - 1) // 700 AS file_id, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM r GROUP BY 1
        |), small AS (
        |  SELECT file_id, n_rows,
        |    sum(n_rows) OVER (ORDER BY file_id ROWS UNBOUNDED PRECEDING) - n_rows AS cum_excl
        |  FROM f WHERE n_rows < 500
        |), bins AS (
        |  SELECT cum_excl // 500 AS bin_id, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(n_rows) AS BIGINT) AS n_rows, min(file_id) AS min_file_id,
        |    max(file_id) AS max_file_id, CAST(0 AS INT) AS sealed
        |  FROM small GROUP BY 1
        |  UNION ALL
        |  SELECT 1000000 + file_id, 1, n_rows, file_id, file_id, CAST(1 AS INT)
        |  FROM f WHERE n_rows >= 500
        |)
        |SELECT CAST(bin_id AS BIGINT) AS bin_id, n_files, n_rows,
        |  CAST(min_file_id AS BIGINT) AS min_file_id,
        |  CAST(max_file_id AS BIGINT) AS max_file_id, sealed
        |FROM bins""".stripMargin)
  )
}
