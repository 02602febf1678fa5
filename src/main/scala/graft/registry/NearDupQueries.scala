package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}
import graft.registry.Shared._

/** Near-duplicate detection over `documents`: exact dedup, MinHash (md5,
  * xxhash64, OPH, weighted), SimHash, containment and decontamination gates,
  * the near-dup graph (clusters, degrees, modularity, k-core), deletion
  * repair and content-defined chunking.
  */
object NearDupQueries {

  /** The two-stage decontam gate (signature build + band verify) shared
    * by its flags face and its report face — the report adds only the
    * exact-gate comparison.
    */
  private def sharedTwoStageGate(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "twoStageGate") {
      val docs = table(s, dir, "documents")
      graft.ops.Decontam.twoStageGate(
        docs.filter(col("doc_id") % 13 =!= 0),
        docs.filter(col("doc_id") % 13 === 0))
        .localCheckpoint(eager = true)
    }

  /** The full exact-Jaccard prefix-filter join frame (the
    * setsim_jaccard_join result), checkpointed once per (session, sfDir).
    */
  private def sharedSetsimFull(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "setsimFull08") {
      graft.ops.SetSim.jaccardJoin(table(s, dir, "documents"))
        .localCheckpoint(eager = true)
    }

  /** The exact ≥0.8 n-gram-Jaccard pair set off the lossless prefix-filter
    * join — built ONCE per (session, sfDir) and shared by
    * lsh_blocking_recall and lsh_band_auto_plan (it is both queries'
    * expensive leg).
    */
  private def sharedSetsimGold(s: SparkSession, dir: String): DataFrame =
    sharedSetsimFull(s, dir).select(col("id_a"), col("id_b"))

  /** The SimHash md5 pair frame (maxBucket 500) — reported by
    * simhash_md5_pairs and token-verified by simhash_calibration.
    */
  private def sharedSimhashMd5Pairs(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "simhashMd5Pairs") {
      Dedup.simhashMd5Pairs(table(s, dir, "documents"), maxBucket = 500)
        .localCheckpoint(eager = true)
    }

  /** The xxhash64 (engine-native) MinHash pair frame at 0.8 — shared by
    * neardup_dedup_corpus and neardup_clusters_star.
    */
  private def sharedXxPairs08(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "xxPairs08") {
      Dedup.minhashPairs(table(s, dir, "documents"), threshold = 0.8)
        .localCheckpoint(eager = true)
    }

  /** Decontamination split: md5-hashed distinct word 4-grams per document,
    * train-side grams `tg` (doc_id % 13 != 0) and the benchmark gram set
    * `bg` (doc_id % 13 = 0).
    */
  private val DecontamGramCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents
      |), grams AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 4
      |      THEN list_distinct(list_transform(range(1, len(w)-2),
      |        i -> CAST(('0x' || substr(md5(array_to_string(w[i:i+3], ' ')), 1, 8)) AS BIGINT)))
      |      ELSE [] END AS g
      |  FROM toks
      |), tg AS (
      |  SELECT doc_id, unnest(g) AS g FROM grams WHERE doc_id % 13 != 0
      |), bg AS (
      |  SELECT DISTINCT unnest(g) AS g FROM grams WHERE doc_id % 13 = 0""".stripMargin

  /** OPH signature + banded-pair chain replaying
    * [[graft.ops.Dedup.ophMd5Pairs]]: bin = top 6 hash bits, min per
    * (doc, bin), and the rotation densification in its closed form —
    * slot j = min over non-empty bins b of `v_b + ((b−j) mod 64)·2^32`
    * (the nearest-right borrow wins the min because every direct value is
    * < 2^32; see [[graft.functions.OphMinhashSigExpr]]). Extends
    * [[Md5SigCtes]], so `ex`/`hs`/`grams` are shared with the k-wise
    * replay. Exposes `obins` (occupancy), `ocand` (banded candidates),
    * `opj` (verified pairs).
    */
  private val OphCtes: String =
    s"""$Md5SigCtes, obins AS (
      |  SELECT doc_id, h >> 26 AS b, min(h) AS v FROM ex GROUP BY 1, 2
      |), oslots AS (
      |  SELECT doc_id, j.j AS j,
      |    min(v + (((b - j.j) % 64 + 64) % 64) * 4294967296) AS m
      |  FROM obins, range(64) j(j) GROUP BY 1, 2
      |), obk AS (
      |  SELECT doc_id, j // 4 AS band, string_agg(CAST(m AS VARCHAR), '-' ORDER BY j) AS bk
      |  FROM oslots GROUP BY doc_id, j // 4
      |), obucket AS (
      |  SELECT band, bk FROM obk GROUP BY band, bk HAVING count(*) BETWEEN 2 AND 1000
      |), ocand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM obucket o
      |  JOIN obk a ON a.band = o.band AND a.bk = o.bk
      |  JOIN obk b ON b.band = o.band AND b.bk = o.bk AND a.doc_id < b.doc_id
      |), opj AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(ha.hset, x -> list_contains(hb.hset, x))) AS DOUBLE)
      |      / len(list_distinct(list_concat(ha.hset, hb.hset))) AS jaccard
      |  FROM ocand JOIN hs ha ON ha.doc_id = ocand.id_a JOIN hs hb ON hb.doc_id = ocand.id_b
      |)""".stripMargin

  /** The two-stage decontam CTE block shared by `decontam_two_stage`
    * (summary) and `decontam_two_stage_flags` (per-doc face): eval sets,
    * the train index rows, signature match counts, stage-1 estimates,
    * the one-sided verify, and the per-doc rollup `dec` — mirrors
    * [[graft.ops.Decontam.twoStageGate]]. Expects [[Md5SigCtes]] in scope.
    */
  private def twoStageCtes: String =
    """ev AS MATERIALIZED (
      |  SELECT doc_id AS eval_id, hset AS es, CAST(len(hset) AS BIGINT) AS n_e
      |  FROM hs WHERE doc_id % 13 = 0 AND len(hset) > 0
      |), tr AS MATERIALIZED (
      |  SELECT d.doc_id, coalesce(h.hset, []) AS ds,
      |    CAST(coalesce(len(h.hset), 0) AS BIGINT) AS n_d
      |  FROM documents d LEFT JOIN hs h USING (doc_id)
      |  WHERE d.doc_id % 13 != 0
      |), mm AS MATERIALIZED (
      |  SELECT sa.doc_id, se.doc_id AS eval_id,
      |    CAST(sum(CASE WHEN sa.m = se.m THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      |  FROM sig sa JOIN sig se ON se.j = sa.j
      |  WHERE sa.doc_id % 13 != 0 AND se.doc_id % 13 = 0
      |  GROUP BY 1, 2
      |), est AS MATERIALIZED (
      |  SELECT t.doc_id, e.eval_id,
      |    (2*10000*coalesce(m.n_match,0)*(t.n_d + e.n_e) + (64 + coalesce(m.n_match,0))*e.n_e)
      |      // (2*(64 + coalesce(m.n_match,0))*e.n_e) AS est_bps
      |  FROM tr t CROSS JOIN ev e
      |  LEFT JOIN mm m ON m.doc_id = t.doc_id AND m.eval_id = e.eval_id
      |), vrf AS (
      |  SELECT s.doc_id, s.eval_id,
      |    (2*10000*len(list_filter(e.es, x -> list_contains(t.ds, x))) + len(e.es))
      |      // (2*len(e.es)) AS exact_bps
      |  FROM est s JOIN tr t USING (doc_id) JOIN ev e USING (eval_id)
      |  WHERE s.est_bps >= 6500
      |), dec AS MATERIALIZED (
      |  SELECT s.doc_id,
      |    max(s.est_bps) AS max_est_bps,
      |    CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN s.est_bps >= 6500 THEN 1 ELSE 0 END) AS BIGINT) AS n_band,
      |    max(CASE WHEN v.exact_bps >= 8000 THEN 1 ELSE 0 END) AS contam2
      |  FROM est s LEFT JOIN vrf v ON v.doc_id = s.doc_id AND v.eval_id = s.eval_id
      |  GROUP BY 1
      |)""".stripMargin

  /** DuckDB replay of [[graft.ops.Graph.kCorePeel]]: the fixed round count
    * unrolls as one CTE pair (alive set, restricted edges) per round over
    * the md5 near-dup edge set at the given Jaccard threshold.
    */
  private def kCoreOracle(k: Int, rounds: Int, threshold: Double): String = {
    // MATERIALIZED throughout: e<i> references e<i-1> three times (degree
    // filter twice + edge join), so inlined expansion is 3^rounds replays
    // of the near-dup pair pipeline — 45.6 s of the round-8 gate, ~1 s
    // materialized.
    val base =
      s"""$Md5NearDupCtes,
         |good AS MATERIALIZED (SELECT id_a, id_b FROM pj WHERE jaccard >= $threshold),
         |e0 AS MATERIALIZED (SELECT id_a AS s, id_b AS t FROM good
         |       UNION ALL SELECT id_b, id_a FROM good)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s""", a$i AS MATERIALIZED (
         |  SELECT s FROM e${i - 1} GROUP BY s HAVING count(*) >= $k
         |), e$i AS MATERIALIZED (
         |  SELECT e.s, e.t FROM e${i - 1} e
         |  JOIN a$i x ON e.s = x.s JOIN a$i y ON e.t = y.s
         |)""".stripMargin
    }.mkString
    base + steps +
      s"""
         |SELECT s AS id, CAST(count(*) AS BIGINT) AS deg
         |FROM e$rounds GROUP BY s HAVING count(*) >= $k""".stripMargin
  }

  /** [[GopherRulesCtes]] with every CTE name prefixed (qtk/qg2/qt2/qg5/
    * qd5/qjn/qgop) so it composes into oracles whose other CTE blocks
    * already use `toks` (the Md5SigCtes chain does).
    */
  private lazy val GopherRulesCtesQ: String = GopherRulesCtes
    .replace("toks AS (", "qtk AS (")
    .replace("FROM toks WHERE", "FROM qtk WHERE")
    .replace("FROM toks LEFT JOIN", "FROM qtk LEFT JOIN")
    .replace("toks.doc_id", "qtk.doc_id")
    .replace("), g2 AS (", "), qg2 AS (")
    .replace("FROM g2 GROUP BY", "FROM qg2 GROUP BY")
    .replace("), g5 AS (", "), qg5 AS (")
    .replace("FROM g5 GROUP BY", "FROM qg5 GROUP BY")
    .replace("), top2 AS (", "), qt2 AS (")
    .replace("LEFT JOIN top2 ON", "LEFT JOIN qt2 ON")
    .replace("top2.doc_id", "qt2.doc_id")
    .replace("), dup5 AS (", "), qd5 AS (")
    .replace("LEFT JOIN dup5 ON", "LEFT JOIN qd5 ON")
    .replace("dup5.doc_id", "qd5.doc_id")
    .replace("), joined AS (", "), qjn AS (")
    .replace("FROM joined", "FROM qjn")
    .replace("), gop AS (", "), qgop AS (")

  /** Incremental-ingest funnel replay: exact dup vs snapshot hash set,
    * min-id within batch, the delta_neardup indexed probe restricted to
    * stage-2 survivors, and the (renamed) Gopher gate — mirrors
    * [[graft.ops.Dedup.incrementalIngestReport]] stage for stage.
    */
  private lazy val IncrementalIngestOracle: String =
    s"""$Md5SigCtes, base AS (
      |  SELECT doc_id AS id, md5(text) AS h,
      |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok
      |  FROM documents
      |), b AS (SELECT * FROM base WHERE id >= 250),
      |snap_h AS (SELECT DISTINCT h FROM base WHERE id < 250),
      |s1 AS (SELECT b.* FROM b LEFT JOIN snap_h sh ON sh.h = b.h WHERE sh.h IS NULL),
      |s2 AS (
      |  SELECT id, h, tok FROM (
      |    SELECT s1.*, min(id) OVER (PARTITION BY h) AS keep_id FROM s1)
      |  WHERE id = keep_id
      |), sb3 AS (SELECT doc_id AS snap_id, band, bk FROM bandkey WHERE doc_id < 250),
      |bb3 AS (
      |  SELECT bandkey.doc_id AS batch_id, band, bk
      |  FROM bandkey JOIN s2 ON s2.id = bandkey.doc_id
      |), hot3 AS (SELECT band, bk FROM sb3 GROUP BY band, bk HAVING count(*) > 1000),
      |cd3 AS (
      |  SELECT DISTINCT bb3.batch_id, sb3.snap_id
      |  FROM bb3 JOIN sb3 ON sb3.band = bb3.band AND sb3.bk = bb3.bk
      |  LEFT JOIN hot3 h3 ON h3.band = sb3.band AND h3.bk = sb3.bk
      |  WHERE h3.bk IS NULL
      |), pj3 AS (
      |  SELECT batch_id,
      |    CAST(len(list_filter(ha.hset, x -> list_contains(hb2.hset, x))) AS DOUBLE)
      |      / len(list_distinct(list_concat(ha.hset, hb2.hset))) AS jaccard
      |  FROM cd3 JOIN hs ha ON ha.doc_id = cd3.batch_id
      |    JOIN hs hb2 ON hb2.doc_id = cd3.snap_id
      |), dup3 AS (SELECT DISTINCT batch_id AS id FROM pj3 WHERE jaccard >= 0.8),
      |s3 AS (SELECT s2.* FROM s2 LEFT JOIN dup3 d ON d.id = s2.id WHERE d.id IS NULL),
      |$GopherRulesCtesQ,
      |s4 AS (SELECT s3.* FROM s3 JOIN qgop g ON g.doc_id = s3.id AND g.keep = 1),
      |st0 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(tok), 0) AS BIGINT) AS t FROM b),
      |st1 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(tok), 0) AS BIGINT) AS t FROM s1),
      |st2 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(tok), 0) AS BIGINT) AS t FROM s2),
      |st3 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(tok), 0) AS BIGINT) AS t FROM s3),
      |st4 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(coalesce(sum(tok), 0) AS BIGINT) AS t FROM s4)
      |SELECT '1_exact_vs_snapshot' AS stage, st0.n AS n_in, st1.n AS n_out,
      |  st0.n - st1.n AS docs_dropped, st0.t - st1.t AS tokens_dropped FROM st0, st1
      |UNION ALL
      |SELECT '2_exact_in_batch', st1.n, st2.n, st1.n - st2.n, st1.t - st2.t FROM st1, st2
      |UNION ALL
      |SELECT '3_neardup_vs_snapshot', st2.n, st3.n, st2.n - st3.n, st2.t - st3.t FROM st2, st3
      |UNION ALL
      |SELECT '4_quality_gate', st3.n, st4.n, st3.n - st4.n, st3.t - st4.t FROM st3, st4""".stripMargin

  /** HyperANF replay over the md5 near-dup graph: edges+self adjacency,
    * unrolled register max-merge rounds, the per-node HLL estimate of
    * [[hllErrOracle]]'s shape per round, and the unrolled exact closure —
    * mirrors [[graft.ops.Graph.hyperAnf]] round for round.
    */
  private def hyperAnfOracle(rounds: Int, m: Int): String = {
    val p = Integer.numberOfTrailingZeros(m)
    val alpha = graft.ops.HeavyHitters.hllAlpha(m)
    val rhoBase = 33 - p
    val regRounds = (1 to rounds).map { t =>
      s""", r$t AS MATERIALIZED (
        |  SELECT a.src AS id, r.bucket, max(r.rho) AS rho
        |  FROM adj a JOIN r${t - 1} r ON r.id = a.dst GROUP BY 1, 2
        |)""".stripMargin
    }.mkString
    val reachRounds = (1 to rounds).map { t =>
      s""", x$t AS MATERIALIZED (
        |  SELECT DISTINCT a.src AS id, x.rid
        |  FROM adj a JOIN x${t - 1} x ON x.id = a.dst
        |)""".stripMargin
    }.mkString
    val estRounds = (1 to rounds).map { t =>
      s""", agg$t AS (
        |  SELECT n.id,
        |    CAST(sum(CAST(1 AS BIGINT) << (32 - CAST(COALESCE(r.rho, 0) AS INT))) AS BIGINT) AS s_scaled,
        |    CAST(sum(CASE WHEN COALESCE(r.rho, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM nodes n CROSS JOIN (SELECT unnest(range($m)) AS bucket) g
        |  LEFT JOIN r$t r ON r.id = n.id AND r.bucket = g.bucket
        |  GROUP BY 1
        |), est$t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(CAST(floor(
        |      CASE WHEN (${alpha}e0 * ${m.toDouble * m}e0
        |              / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0)) <= ${2.5 * m}e0
        |            AND v_empty > 0
        |      THEN ${m.toDouble}e0 * ln(${m.toDouble}e0 / CAST(v_empty AS DOUBLE))
        |      ELSE ${alpha}e0 * ${m.toDouble * m}e0
        |        / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0) END
        |      * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS est_sum_micro
        |  FROM agg$t
        |), ex$t AS (SELECT CAST(count(*) AS BIGINT) AS exact_sum FROM x$t)""".stripMargin
    }.mkString
    val out = (1 to rounds).map { t =>
      s"""SELECT CAST($t AS INT) AS radius, e.n_nodes, x.exact_sum, e.est_sum_micro,
        |  CAST(((2 * 10000 * (e.est_sum_micro - x.exact_sum * 1000000) + x.exact_sum * 1000000)
        |    - (((2 * 10000 * (e.est_sum_micro - x.exact_sum * 1000000) + x.exact_sum * 1000000)
        |        % (2 * x.exact_sum * 1000000) + 2 * x.exact_sum * 1000000)
        |       % (2 * x.exact_sum * 1000000))
        |  ) // (2 * x.exact_sum * 1000000) AS BIGINT) AS err_bps
        |FROM est$t e, ex$t x""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$Md5NearDupCtes, good AS MATERIALIZED (
      |  SELECT id_a, id_b FROM pj WHERE jaccard >= 0.8
      |), edges AS MATERIALIZED (
      |  SELECT id_a AS src, id_b AS dst FROM good UNION SELECT id_b, id_a FROM good
      |), nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
      |adj AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT id, id FROM nodes),
      |h AS (
      |  SELECT id,
      |    CAST(('0x' || substr(md5('anf-' || CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
      |  FROM nodes
      |), r0 AS MATERIALIZED (
      |  SELECT id, CAST(hv % $m AS INT) AS bucket,
      |    CASE WHEN hv // $m = 0 THEN $rhoBase
      |         ELSE $rhoBase - length(bin(hv // $m)) END AS rho
      |  FROM h
      |), x0 AS MATERIALIZED (SELECT id, id AS rid FROM nodes)$regRounds$reachRounds$estRounds
      |$out""".stripMargin
  }

  /** Winnowing fingerprints: md5-hashed word 3-grams `grams` over
    * [[WsToksCte]], the minimum of each 5-gram window `sel`, and the
    * distinct per-document fingerprints `fps(doc_id, fp)`.
    */
  private val WinnowFpCtes: String =
    s"""$WsToksCte
      |), grams AS (
      |  SELECT doc_id, pg['pos'] AS pos, pg['h'] AS h FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
      |      i -> struct_pack(pos := CAST(i AS INT),
      |                       h := CAST(('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 8)) AS BIGINT)))) AS pg
      |    FROM toks WHERE len(t) >= 4)
      |), sel AS (
      |  SELECT doc_id, pos,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
      |    max(pos) OVER (PARTITION BY doc_id) AS max_pos
      |  FROM grams
      |), fps AS (""".stripMargin

  /** 32-bit SimHash inputs: distinct lower-cased tokens `toks`, their
    * md5 hashes `th`, and the per-(document, bit) signed votes.
    */
  private val SimhashVoteCtes: String =
    s"""toks AS (
      |  SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS ts
      |  FROM documents
      |), th AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) AS h
      |  FROM toks, unnest(toks.ts) AS t(tok)
      |), votes AS (
      |  SELECT doc_id, b.bit,
      |    sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, range(32) b(bit) GROUP BY 1, 2""".stripMargin

  /** SimHash fingerprints `fp` from [[SimhashVoteCtes]], their four 8-bit
    * band keys `bandk`, buckets of 2-500 documents `bucket_ok`, and the
    * distinct same-bucket candidate pairs `cand(id_a, id_b)`.
    */
  private val SimhashBandCandCtes: String =
    s"""$SimhashVoteCtes
      |), fp AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS fp
      |  FROM votes GROUP BY 1
      |), bandk AS (
      |  SELECT doc_id, c.c AS c, (fp >> (c.c * 8)) & 255 AS v FROM fp, range(4) c(c)
      |), bucket_ok AS (
      |  SELECT c, v FROM bandk GROUP BY c, v HAVING count(*) BETWEEN 2 AND 500
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bucket_ok o
      |  JOIN bandk a ON a.c = o.c AND a.v = o.v
      |  JOIN bandk b ON b.c = o.c AND b.v = o.v AND a.doc_id < b.doc_id""".stripMargin

  /** MinHash calibration over [[Md5NearDupCtes]]: matching signature
    * slots `mm` per candidate pair and the exact shingle-set
    * intersection and union `cal`.
    */
  private val Md5CalibrationCtes: String =
    s"""$Md5NearDupCtes, mm AS (
      |  SELECT cand.id_a, cand.id_b,
      |    CAST(count(*) FILTER (WHERE sa.m = sb.m) AS BIGINT) AS n_match
      |  FROM cand
      |  JOIN sig sa ON sa.doc_id = cand.id_a
      |  JOIN sig sb ON sb.doc_id = cand.id_b AND sb.j = sa.j
      |  GROUP BY 1, 2
      |), cal AS (
      |  SELECT mm.id_a, mm.id_b, n_match,
      |    CAST(len(list_filter(ha.hset, x -> list_contains(hb.hset, x))) AS BIGINT) AS inter,
      |    CAST(len(list_distinct(list_concat(ha.hset, hb.hset))) AS BIGINT) AS uni
      |  FROM mm JOIN hs ha ON ha.doc_id = mm.id_a JOIN hs hb ON hb.doc_id = mm.id_b""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("dedup_exact") { (s, dir) =>
      Dedup.exactGroups(table(s, dir, "documents"))
    }.oracle(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    Query("jaccard_pairs_sample") { (s, dir) =>
      // Exact 3-gram Jaccard over a deterministic 10% doc sample (all pairs;
      // the unsampled path is minhash_pairs).
      val sample = table(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      Dedup
        .ngramJaccardPairs(sample, "doc_id", "text", 3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }.oracle(
      s"""WITH sample AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |  FROM documents WHERE doc_id % 10 = 0
        |), ${shingle3Cte("sample")}
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE)
        |    / (len(a.g) + len(b.g) - len(list_filter(a.g, x -> list_contains(b.g, x)))), 4) AS jaccard
        |FROM grams a JOIN grams b ON a.doc_id < b.doc_id""".stripMargin),
    Query("setsim_jaccard_join") { (s, dir) =>
      // COMPLETE exact-Jaccard self-join via rarest-first prefix filtering
      // (AllPairs/PPJoin) — every pair ≥ 0.8, no LSH recall loss, no doc
      // sample; exact integer verify (ops/SetSim.scala). Optimization r16:
      // the memoized full frame — its ids projection is the gold
      // lsh_blocking_recall / lsh_band_auto_plan grade against, so the
      // prefix-filter join now runs once per session, not three times.
      sharedSetsimFull(s, dir)
    }.oracle(
      // the prefix filter is lossless, so the oracle skips it: full exact
      // intersection counts via the gram self-join, same integer threshold
      // and round-half-up micro division as the Spark plan
      """WITH s AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(w) >= 3
        |      THEN list_distinct(list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |      ELSE [] END) AS gram
        |  FROM s
        |), sz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, n_inter,
        |  CAST((2 * 1000000 * n_inter + (sa.n + sb.n - n_inter))
        |    // (2 * (sa.n + sb.n - n_inter)) AS BIGINT) AS jaccard_micro
        |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE 1000000 * n_inter >= 800000 * (sa.n + sb.n - n_inter)""".stripMargin),
    Query("minhash_pairs") { (s, dir) =>
      // MinHash-LSH candidates verified by exact Jaccard. Hash functions are
      // engine-native (xxhash64) → no SQL oracle; correctness is spec'd
      // against exact Jaccard in DedupSpec.
      Dedup
        .minhashPairs(table(s, dir, "documents"))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    },
    Query("neardup_dedup_corpus") { (s, dir) =>
      // Full near-dup removal: MinHash-LSH pairs → connected-component
      // clusters → min-id representatives survive (hash-native pairs → no
      // SQL oracle; clustering semantics spec'd in DedupSpec).
      val docs = table(s, dir, "documents")
      // Optimization r15: rides the shared xxhash pair build.
      Dedup
        .dropNearDuplicates(docs, sharedXxPairs08(s, dir))
        .select(col("doc_id"))
    },
    Query("neardup_clusters_star") { (s, dir) =>
      // Connected components via large-star/small-star (O(log n) rounds —
      // the chain-robust alternative to min-label propagation; hash-native
      // pairs → no SQL oracle; union-find equivalence spec'd in DedupSpec).
      // Optimization r15: rides the shared xxhash pair build.
      Dedup.nearDupClustersStar(sharedXxPairs08(s, dir))
    },
    Query("simhash_fingerprints") { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
    },
    Query("simhash_neardup_pairs") { (s, dir) =>
      // Chunk-banded SimHash pairing (hash-native fingerprints → no SQL
      // oracle; exact-equality vs brute-force hamming spec'd in DedupSpec).
      // Classic 4x16-bit config: pigeonhole-guaranteed recall for hamming<=3.
      // maxBucket=500: the synthetic corpus's tiny shared vocabulary makes
      // fingerprints cluster; at web scale such buckets are boilerplate and
      // pairing them is O(b^2) for no dedup value (same cap as minhash).
      Dedup.simhashNearDupPairs(table(s, dir, "documents"), maxHamming = 3, chunks = 4, maxBucket = 500)
    },
    Query("passage_share_stats") { (s, dir) =>
      // Exact-substring (passage-level) dedup signal: per doc, how many of
      // its 5-token passages appear in other docs too (boilerplate metric).
      Dedup.passageShareStats(table(s, dir, "documents"))
    }.oracle(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents
        |), p AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) >= 5
        |      THEN list_transform(range(0, len(w)//5), i -> array_to_string(w[i*5+1:i*5+5], ' '))
        |      ELSE [] END)) AS p
        |  FROM toks
        |), g AS (
        |  SELECT p, count(DISTINCT doc_id) AS n_docs FROM p GROUP BY 1
        |)
        |SELECT p.doc_id, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |FROM p JOIN g USING (p) GROUP BY 1""".stripMargin),
    Query("simhash32_md5") { (s, dir) =>
      // md5-anchored SimHash: same per-bit majority algorithm as the
      // xxhash64 production form, built on the cross-engine md5 hash so the
      // fingerprint family is SQL-oracle-checked bit-for-bit.
      table(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash32Md5(col("text")).as("simhash32"))
    }.oracle(
      s"""WITH $SimhashVoteCtes
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash32
        |FROM votes GROUP BY 1""".stripMargin),
    Query("minhash_md5_sigs") { (s, dir) =>
      // md5-anchored MinHash signatures (16-member affine family over ONE
      // md5 per shingle, 3-gram shingles) over a deterministic 10% sample —
      // oracle-checks the min-over-shingles structure the xxhash64
      // production signature uses. Shingle hashes are projected once and
      // shared by all 16 members (separate select — inlining would
      // re-derive the shingle pipeline per member).
      table(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), Dedup.md5ShingleHashes(col("text"), 3).as("h"))
        .select(col("doc_id"), posexplode(Dedup.minhashMd5Signature(col("h"), 16)))
        .select(col("doc_id"), col("pos").cast("int").as("hash_i"), col("col").as("minhash"))
    }.oracle(
      s"""WITH sample AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |  FROM documents WHERE doc_id % 10 = 0
        |), ${shingle3Cte("sample")}
        |), ex AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t.gram), 1, 8)) AS BIGINT) AS h
        |  FROM grams, unnest(grams.g) AS t(gram)
        |)
        |SELECT doc_id, CAST(j.j AS INT) AS hash_i,
        |  CAST(min(
        |    ((((2654435761 * (j.j+1)) % 2147483647) | 1) * (h % 2147483647)
        |      + ((40503 * (j.j+1) * (j.j+1)) % 2147483647)) % 2147483647
        |  ) AS BIGINT) AS minhash
        |FROM ex, range(16) j(j) GROUP BY 1, 2""".stripMargin),
    Query("minhash_md5_pairs") { (s, dir) =>
      // The FULL near-dup pair pipeline (shingle → MinHash signature → LSH
      // bands → bucket pairs → exact-Jaccard verify) on portable md5
      // hashes: the oracle reproduces banding, bucket cap, and verification
      // bit-for-bit — hard evidence for the algorithm minhash_pairs runs
      // with engine-native hashes.
      sharedMd5PairsT0(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }.oracle(
      s"""$Md5NearDupCtes
        |SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM pj""".stripMargin),
    Query("minhash_oph_pairs") { (s, dir) =>
      // The SAME banded near-dup pipeline with the signature pass swapped
      // for One-Permutation Hashing (Li/Owen/Zhang 2012 + rotation
      // densification, Shrivastava/Li 2014): ONE md5 per shingle + a bin
      // min instead of 64 affine re-hashes — at 100 TB the signature scan
      // stops costing k corpus hashings. Banding, bucket cap, and exact
      // verify are shared code with minhash_md5_pairs, and every hash is
      // md5-portable, so the oracle replays binning, densification walk,
      // and all (ops/Dedup.scala, functions/OphMinhashSig.scala).
      Dedup.ophMd5Pairs(table(s, dir, "documents"))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }.oracle(
      s"""$OphCtes
        |SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM opj""".stripMargin),
    Query("minhash_oph_fill") { (s, dir) =>
      // OPH's one assumption measured: the bin-occupancy distribution.
      // A borrowed slot carries the ≥2^32 hop offset, so the census reads
      // the signature itself — no second shingle pass. Documents filling
      // ~all 64 bins get k-wise-grade collision statistics for 1/64th the
      // hashing; the short-doc tail that borrows heavily is exactly what
      // this census makes visible (ops/Dedup.scala).
      Dedup.ophFillCensus(table(s, dir, "documents"))
    }.oracle(
      s"""$OphCtes, pf AS (
        |  SELECT doc_id, CAST(count(*) AS INT) AS n_filled FROM obins GROUP BY 1
        |)
        |SELECT n_filled, CAST(64 - n_filled AS INT) AS n_borrowed,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM pf GROUP BY 1""".stripMargin),
    Query("minhash_oph_recall") { (s, dir) =>
      // The scheme decision priced on THIS corpus: k-wise vs OPH
      // signatures at equal width and identical banding, each banded
      // candidate set graded against the exact >=0.8 setsim gold
      // (sharedSetsimGold — the same lossless prefix-filter frame
      // lsh_blocking_recall grades with). Columns: candidate count = the
      // verify cost the scheme buys, round-half-up recall_bps = what it
      // catches (ops/Dedup.scala).
      Dedup.ophBandRecall(table(s, dir, "documents"), sharedSetsimGold(s, dir))
    }.oracle(
      s"""$OphCtes, rgg AS (
        |  SELECT doc_id, unnest(g) AS gram FROM grams
        |), rgsz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM rgg GROUP BY 1
        |), rginter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
        |  FROM rgg a JOIN rgg b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), rgold AS MATERIALIZED (
        |  SELECT id_a, id_b
        |  FROM rginter JOIN rgsz sa ON sa.doc_id = id_a JOIN rgsz sb ON sb.doc_id = id_b
        |  WHERE 1000000 * ni >= 800000 * (sa.n + sb.n - ni)
        |), rng AS (SELECT CAST(count(*) AS BIGINT) AS n_gold FROM rgold),
        |kbucket AS (
        |  SELECT band, bk FROM bandkey GROUP BY band, bk HAVING count(*) BETWEEN 2 AND 1000
        |), kcand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM kbucket o
        |  JOIN bandkey a ON a.band = o.band AND a.bk = o.bk
        |  JOIN bandkey b ON b.band = o.band AND b.bk = o.bk AND a.doc_id < b.doc_id
        |), kleg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(count(g.id_a) AS BIGINT) AS n_hit
        |  FROM kcand c LEFT JOIN rgold g ON g.id_a = c.id_a AND g.id_b = c.id_b
        |), oleg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(count(g.id_a) AS BIGINT) AS n_hit
        |  FROM ocand c LEFT JOIN rgold g ON g.id_a = c.id_a AND g.id_b = c.id_b
        |), two AS (
        |  SELECT 'kwise64' AS scheme, n_candidates, n_hit FROM kleg
        |  UNION ALL SELECT 'oph64', n_candidates, n_hit FROM oleg
        |)
        |SELECT scheme, n_candidates, (SELECT n_gold FROM rng) AS n_gold, n_hit,
        |  CAST(CASE WHEN (SELECT n_gold FROM rng) > 0
        |    THEN floor((20000 * n_hit + (SELECT n_gold FROM rng))
        |      / (2.0 * (SELECT n_gold FROM rng))) END AS BIGINT) AS recall_bps
        |FROM two""".stripMargin),
    Query("dedup_threshold_sweep") { (s, dir) =>
      // The dedup bar τ closed into a measured CURVE (the knob-sweep
      // discipline of ivf_nprobe_sweep / lsh_band_auto_plan): ONE
      // banded-verify pass (threshold 0 — the operator checkpoints the
      // full verified pair frame), then per τ ∈ {70, 80, 90}% the pair
      // count, docs touched, pairwise keep-min-id drops, and survivors —
      // the curve a curation owner picks the threshold from. Threshold
      // compares are exact-quotient doubles, identical in both engines
      // (ops/Dedup.scala).
      val docs = table(s, dir, "documents")
      val pairs = sharedMd5PairsT0(s, dir)
      val total = docs.agg(count(lit(1)).as("n_total"))
      Seq(7000L, 8000L, 9000L).map { t =>
        val p = pairs.filter(col("jaccard") >= t / 10000.0)
        p.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(broadcast(
            p.select(explode(array(col("id_a"), col("id_b"))).as("d"))
              .agg(countDistinct(col("d")).as("n_docs_in_pairs"))))
          .crossJoin(broadcast(
            p.agg(countDistinct(col("id_b")).as("n_dropped"))))
          .crossJoin(broadcast(total))
          .select(
            lit(t).as("tau_bps"), col("n_pairs"), col("n_docs_in_pairs"),
            col("n_dropped"), (col("n_total") - col("n_dropped")).as("n_survivors"))
      }.reduce(_ unionByName _)
    }.oracle({
      val blocks = Seq(7000L, 8000L, 9000L).map { t =>
        val thr = s"${t.toDouble / 10000.0}e0"
        s"""SELECT CAST($t AS BIGINT) AS tau_bps,
           |  (SELECT CAST(count(*) AS BIGINT) FROM pjm WHERE jaccard >= $thr) AS n_pairs,
           |  (SELECT CAST(count(DISTINCT d) AS BIGINT) FROM (
           |     SELECT id_a AS d FROM pjm WHERE jaccard >= $thr
           |     UNION SELECT id_b FROM pjm WHERE jaccard >= $thr)) AS n_docs_in_pairs,
           |  (SELECT CAST(count(DISTINCT id_b) AS BIGINT) FROM pjm WHERE jaccard >= $thr) AS n_dropped,
           |  (SELECT n FROM tot) -
           |  (SELECT CAST(count(DISTINCT id_b) AS BIGINT) FROM pjm WHERE jaccard >= $thr) AS n_survivors""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$Md5NearDupCtes, pjm AS MATERIALIZED (SELECT * FROM pj),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
         |$blocks""".stripMargin
    }),
    Query("containment_pairs") { (s, dir) =>
      // Asymmetric containment screen — the quote/expansion relationship
      // resemblance dedup can't see (a fully-quoted short doc has
      // Jaccard ≈ |A|/|B| but containment 1.0). Prefix-filter pigeonhole
      // candidates over the rarest shingles (exact, not banded), df-capped
      // postings, exact set verify; both directional containments in
      // exact bps (ops/Dedup.scala).
      // Optimization r15: the memoized shared exact containment chain
      // (also scored against by containment_minhash_est).
      sharedContainmentPairs(s, dir)
    }.oracle(
      s"""$Md5SigCtes, ${containmentCtes(8000L)}
        |SELECT id_a, id_b, n_a, n_b, n_common, cont_a_in_b_bps, cont_b_in_a_bps
        |FROM contp""".stripMargin),
    Query("decontam_gate_flags") { (s, dir) =>
      // The broadcast twin of decontam_quoted_evals: per training doc,
      // max eval-side containment in exact bps, the arg-max eval, and the
      // gate decision — every doc gets a row (a gate like gopher_rules),
      // one corpus scan x broadcast suite, no posting lists
      // (ops/Decontam.scala).
      val docs = table(s, dir, "documents")
      graft.ops.Decontam.evalContainmentGate(
        docs.filter(col("doc_id") % 13 =!= 0),
        docs.filter(col("doc_id") % 13 === 0))
    }.oracle(
      s"""$Md5SigCtes,
        |ev AS MATERIALIZED (
        |  SELECT doc_id AS eval_id, hset AS es FROM hs
        |  WHERE doc_id % 13 = 0 AND len(hset) > 0
        |), tr AS (
        |  SELECT d.doc_id, coalesce(h.hset, []) AS ds
        |  FROM documents d LEFT JOIN hs h USING (doc_id)
        |  WHERE d.doc_id % 13 != 0
        |), prs AS (
        |  SELECT t.doc_id, e.eval_id,
        |    (2*10000*len(list_filter(e.es, x -> list_contains(t.ds, x))) + len(e.es))
        |      // (2*len(e.es)) AS bps
        |  FROM tr t CROSS JOIN ev e
        |), best AS (
        |  SELECT doc_id, bps, eval_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY bps DESC, eval_id DESC) AS rk
        |    FROM prs) WHERE rk = 1
        |)
        |SELECT doc_id, CAST(bps AS BIGINT) AS max_eval_contained_bps,
        |  eval_id AS worst_eval_id,
        |  CAST(bps >= 8000 AS INT) AS contaminated
        |FROM best""".stripMargin),
    Query("containment_minhash_est") { (s, dir) =>
      // Can 64 MinHash members + set sizes replace the exact containment
      // verify at 100 TB? Per exact pair: both directional containments,
      // their sketch estimates (exact rational from the match count), and
      // SIGNED bps errors — the measured sketch-vs-exact trade for the
      // containment family (ops/Dedup.scala).
      // Optimization r15: sketch scored against the shared exact pairs.
      graft.ops.Dedup.containmentMinhashEstFrom(
        table(s, dir, "documents"), sharedContainmentPairs(s, dir))
    }.oracle(
      s"""$Md5SigCtes, ${containmentCtes(8000L)},
        |matches AS (
        |  SELECT p.id_a, p.id_b,
        |    CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        |  FROM contp p
        |  JOIN sig sa ON sa.doc_id = p.id_a
        |  JOIN sig sb ON sb.doc_id = p.id_b AND sb.j = sa.j
        |  GROUP BY 1, 2
        |)
        |SELECT p.id_a, p.id_b, m.n_match,
        |  p.cont_a_in_b_bps,
        |  (2*10000*m.n_match*(p.n_a + p.n_b) + (64 + m.n_match)*p.n_a)
        |    // (2*(64 + m.n_match)*p.n_a) AS est_a_in_b_bps,
        |  p.cont_b_in_a_bps,
        |  (2*10000*m.n_match*(p.n_a + p.n_b) + (64 + m.n_match)*p.n_b)
        |    // (2*(64 + m.n_match)*p.n_b) AS est_b_in_a_bps,
        |  (2*10000*m.n_match*(p.n_a + p.n_b) + (64 + m.n_match)*p.n_a)
        |    // (2*(64 + m.n_match)*p.n_a) - p.cont_a_in_b_bps AS err_a_bps,
        |  (2*10000*m.n_match*(p.n_a + p.n_b) + (64 + m.n_match)*p.n_b)
        |    // (2*(64 + m.n_match)*p.n_b) - p.cont_b_in_a_bps AS err_b_bps
        |FROM contp p JOIN matches m ON m.id_a = p.id_a AND m.id_b = p.id_b""".stripMargin),
    Query("decontam_two_stage") { (s, dir) =>
      // The 100 TB decontam shape closed: stage 1 scores every
      // (doc, eval) pair from 64-member signatures alone (the priced
      // estimator), stage 2 exact-verifies every estimate at or above
      // threshold − 1500 bps — ONE-SIDED trust, so positives are always
      // exact and only an underestimate past the margin can diverge.
      // One row: pairs scored vs verified (54 of 1.78M at sf0.1) and the
      // measured disagreement vs the exact broadcast gate (0 at both
      // SFs) (ops/Decontam.scala).
      val docs = table(s, dir, "documents")
      graft.ops.Decontam.twoStageReportFrom(
        sharedTwoStageGate(s, dir),
        docs.filter(col("doc_id") % 13 =!= 0),
        docs.filter(col("doc_id") % 13 === 0))
    }.oracle(
      s"""$Md5SigCtes,
        |$twoStageCtes, exg AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    max(CASE WHEN (2*10000*len(list_filter(e.es, x -> list_contains(t.ds, x)))
        |        + len(e.es)) // (2*len(e.es)) >= 8000 THEN 1 ELSE 0 END) AS contam1
        |  FROM tr t CROSS JOIN ev e
        |  GROUP BY 1
        |)
        |SELECT
        |  CAST((SELECT count(*) FROM tr) AS BIGINT) AS n_docs,
        |  CAST((SELECT count(*) FROM est) AS BIGINT) AS n_pairs_scored,
        |  CAST((SELECT coalesce(sum(n_band), 0) FROM dec) AS BIGINT) AS n_pairs_verified,
        |  CAST((2*10000*((SELECT count(*) FROM est) - (SELECT coalesce(sum(n_band),0) FROM dec))
        |      + greatest((SELECT count(*) FROM est), 1))
        |    // (2*greatest((SELECT count(*) FROM est), 1)) AS BIGINT) AS verify_reduction_bps,
        |  CAST((SELECT coalesce(sum(contam2), 0) FROM dec) AS BIGINT) AS n_contam_two_stage,
        |  CAST((SELECT coalesce(sum(contam1), 0) FROM exg) AS BIGINT) AS n_contam_exact,
        |  CAST((SELECT coalesce(sum(CASE WHEN d.contam2 != g.contam1 THEN 1 ELSE 0 END), 0)
        |        FROM dec d JOIN exg g USING (doc_id)) AS BIGINT) AS n_disagree""".stripMargin),
    Query("decontam_two_stage_flags") { (s, dir) =>
      // The production face of the two-stage gate: one row per doc —
      // max sketch estimate, pairs scored, pairs exact-verified, and the
      // (always exact-confirmed) contamination decision; joins downstream
      // like decontam_gate_flags at a fraction of its intersect work
      // (ops/Decontam.scala).
      sharedTwoStageGate(s, dir)
    }.oracle(
      s"""$Md5SigCtes,
        |$twoStageCtes
        |SELECT doc_id, CAST(max_est_bps AS BIGINT) AS max_est_bps, n_pairs,
        |  n_band AS n_verified_pairs, CAST(contam2 AS INT) AS contaminated
        |FROM dec""".stripMargin),
    Query("decontam_quoted_evals") { (s, dir) =>
      // Contamination by QUOTATION — the case n-gram-share decontam
      // underweights: an eval question quoted inside a larger training
      // doc barely moves the doc's overlap share but is ~fully contained
      // itself. The r9 containment join oriented (train, eval), eval-side
      // directional containment >= 80% in exact bps; one containment pass,
      // ids-only stratum tags (ops/Dedup.scala).
      // Optimization r15: the memoized shared containment pass (also
      // feeds curation_pipeline_v9).
      sharedQuotedEvals(s, dir)
    }.oracle(
      s"""$Md5SigCtes, ${containmentCtes(8000L)}
        |SELECT
        |  CASE WHEN id_a % 13 = 0 THEN id_b ELSE id_a END AS train_doc_id,
        |  CASE WHEN id_a % 13 = 0 THEN id_a ELSE id_b END AS eval_doc_id,
        |  CASE WHEN id_a % 13 = 0 THEN n_b ELSE n_a END AS n_train,
        |  CASE WHEN id_a % 13 = 0 THEN n_a ELSE n_b END AS n_eval,
        |  n_common,
        |  CASE WHEN id_a % 13 = 0 THEN cont_a_in_b_bps ELSE cont_b_in_a_bps END
        |    AS eval_contained_bps
        |FROM contp
        |WHERE (id_a % 13 = 0) != (id_b % 13 = 0)
        |  AND (CASE WHEN id_a % 13 = 0 THEN cont_a_in_b_bps
        |       ELSE cont_b_in_a_bps END) >= 8000""".stripMargin),
    Query("cross_source_neardup_matrix") { (s, dir) =>
      // Provenance diagnostic: per unordered source pair, how many
      // near-dup pairs span it — the mirror-site / content-farm signal.
      // Composes the oracle-exact md5 MinHash pipeline with two ids-only
      // source joins and a sources²-bounded agg (ops/Dedup.scala).
      val docs = table(s, dir, "documents")
      Dedup.crossSourceDupMatrix(docs, sharedMd5PairsT0(s, dir))
    }.oracle(
      s"""$Md5NearDupCtes
        |SELECT least(da.source, db.source) AS src_a,
        |  greatest(da.source, db.source) AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pj
        |JOIN documents da ON da.doc_id = pj.id_a
        |JOIN documents db ON db.doc_id = pj.id_b
        |GROUP BY 1, 2""".stripMargin),
    Query("neardup_clusters_md5") { (s, dir) =>
      // Connected components over the md5-anchored pair set (threshold
      // 0.8): min-label propagation on Spark, recursive-CTE closure in the
      // oracle — the clustering stage of the near-dup chain under a full
      // SQL oracle.
      // Optimization r15: the memoized shared clustering run.
      sharedMd5Clusters08(s, dir)
    }.oracle(
      s"""$Md5NearDupCtes,
        |$Md5ClusterCtes
        |SELECT id, min(lab) AS cluster FROM reach GROUP BY id""".stripMargin),
    Query("neardup_degree_hist") { (s, dir) =>
      // Degree distribution of the md5 near-dup graph incl. the
      // degree-0 mass — the shape read (a fat tail = hub documents =
      // boilerplate) behind the maxBucket cap the banding applies;
      // ids-only frames throughout.
      val docs = table(s, dir, "documents")
      val pairs = sharedMd5Pairs08(s, dir) // optimization r15: shared pair build
      val deg = pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .localCheckpoint(eager = true) // nodes-bounded; hist + zero row
      val total = docs.agg(count(lit(1)).as("n_docs"))
      deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .unionByName(
          deg.agg(count(lit(1)).as("n_with_edges"))
            .crossJoin(broadcast(total)) // 1-row corpus count
            .select(lit(0L).as("degree"), (col("n_docs") - col("n_with_edges")).as("n_nodes"))
            .filter(col("n_nodes") > 0))
    }.oracle(
      s"""$Md5NearDupCtes,
        |gd AS (SELECT id_a, id_b FROM pj WHERE jaccard >= 0.8),
        |deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS degree
        |  FROM (SELECT id_a AS id FROM gd UNION ALL SELECT id_b FROM gd) u
        |  GROUP BY 1
        |), hist AS (
        |  SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1
        |), z AS (
        |  SELECT CAST(0 AS BIGINT) AS degree,
        |    (SELECT CAST(count(*) AS BIGINT) FROM documents)
        |      - CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM deg
        |)
        |SELECT degree, n_nodes FROM hist
        |UNION ALL SELECT degree, n_nodes FROM z WHERE n_nodes > 0""".stripMargin),
    Query("neardup_cluster_diameter") { (s, dir) =>
      // Transitive-merge audit of the md5 near-dup clusters: weakest
      // observed link + pair-coverage density per multi-member cluster —
      // the chaining-artifact check run before keep-one deletion; pair
      // frame computed once (checkpointed) and shared with the CC stage
      // (ops/Dedup.scala).
      // Optimization r15: shared pair + cluster legs.
      Dedup.nearDupClusterDiameter(sharedMd5Pairs08(s, dir), sharedMd5Clusters08(s, dir))
    }.oracle(
      s"""$Md5NearDupCtes,
        |$Md5ClusterCtes,
        |labels AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |sizes AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
        |  FROM labels GROUP BY 1 HAVING count(*) >= 2
        |), gj AS (SELECT id_a, id_b, jaccard FROM pj WHERE jaccard >= 0.8),
        |intra AS (
        |  SELECT l.cluster, CAST(count(*) AS BIGINT) AS n_intra_pairs,
        |    min(g.jaccard) AS min_jaccard, max(g.jaccard) AS max_jaccard
        |  FROM gj g JOIN labels l ON l.id = g.id_a GROUP BY 1
        |)
        |SELECT s.cluster, s.n_members,
        |  coalesce(i.n_intra_pairs, 0) AS n_intra_pairs, i.min_jaccard, i.max_jaccard,
        |  CAST((2 * 10000 * coalesce(i.n_intra_pairs, 0)
        |      + ((s.n_members * (s.n_members - 1)) // 2))
        |    // (2 * ((s.n_members * (s.n_members - 1)) // 2)) AS INT) AS density_bps
        |FROM sizes s LEFT JOIN intra i ON i.cluster = s.cluster""".stripMargin),
    Query("neardup_modularity") { (s, dir) =>
      // Newman modularity of the near-dup CC partition over the md5 pair
      // graph — the partition-quality number: per-community size/intra-
      // edge/degree rows + the exact corpus Q, all single integer
      // rationals (ops/Graph.scala). For a CC partition every edge is
      // intra, so Q = 1 − Σd_c²/4m² — the giant-component penalty reads
      // directly.
      // Optimization r15: shared pair + cluster legs.
      graft.ops.Graph.modularity(sharedMd5Pairs08(s, dir), sharedMd5Clusters08(s, dir))
    }.oracle(
      s"""$Md5NearDupCtes,
        |$Md5ClusterCtes,
        |labels AS MATERIALIZED (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM good),
        |degs AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT id_a AS id FROM good UNION ALL SELECT id_b FROM good
        |  ) GROUP BY id
        |), intra AS (
        |  SELECT la.cluster AS community, CAST(count(*) AS BIGINT) AS e_intra
        |  FROM good g JOIN labels la ON la.id = g.id_a JOIN labels lb ON lb.id = g.id_b
        |  WHERE la.cluster = lb.cluster GROUP BY 1
        |), per AS (
        |  SELECT la.cluster AS community, CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(d.deg) AS HUGEINT) AS d_total
        |  FROM labels la JOIN degs d ON d.id = la.id GROUP BY 1
        |), per2 AS (
        |  SELECT p.community, p.n_nodes, coalesce(i.e_intra, 0) AS e_intra, p.d_total
        |  FROM per p LEFT JOIN intra i ON i.community = p.community
        |), tot AS (
        |  SELECT CAST(sum(e_intra) AS HUGEINT) AS se,
        |    CAST(sum(d_total * d_total) AS HUGEINT) AS sdd
        |  FROM per2
        |)
        |SELECT p.community, p.n_nodes, CAST(p.e_intra AS BIGINT) AS e_intra,
        |  CAST(p.d_total AS BIGINT) AS d_total,
        |  CAST((2*1000000*(4*m.m*p.e_intra - p.d_total*p.d_total) + 4*m.m*m.m
        |    - (((2*1000000*(4*m.m*p.e_intra - p.d_total*p.d_total) + 4*m.m*m.m)
        |        % (8*m.m*m.m)) + 8*m.m*m.m) % (8*m.m*m.m)) // (8*m.m*m.m)
        |    AS BIGINT) AS contrib_micro,
        |  CAST((2*1000000*(4*m.m*t.se - t.sdd) + 4*m.m*m.m
        |    - (((2*1000000*(4*m.m*t.se - t.sdd) + 4*m.m*m.m)
        |        % (8*m.m*m.m)) + 8*m.m*m.m) % (8*m.m*m.m)) // (8*m.m*m.m)
        |    AS BIGINT) AS q_micro
        |FROM per2 p, tot t, mm m""".stripMargin),
    Query("hyperanf_neighborhood") { (s, dir) =>
      // HyperANF (Boldi-Rosa-Vigna WWW'11) over the md5 near-dup graph:
      // N(r) per radius from per-node HLL sketches max-merged along edges
      // (m=16 registers/node, one join+groupBy per round), with the exact
      // bounded-closure N(r) and signed error alongside — the
      // effective-diameter curve as its own sketch-vs-truth report
      // (ops/Graph.scala).
      // Optimization r15: rides the shared pair build.
      graft.ops.Graph.hyperAnf(sharedMd5Pairs08(s, dir), rounds = 3, m = 16)
    }.oracle(hyperAnfOracle(3, 16)),
    Query("neardup_corpus_md5") { (s, dir) =>
      // End-to-end near-dup corpus dedup (pairs → clusters → min-id
      // representatives survive) on portable hashes — the oracle twin of
      // neardup_dedup_corpus.
      val docs = table(s, dir, "documents")
      // Optimization r15: shared clustering run.
      Dedup
        .dropNearDuplicatesFromClusters(docs, sharedMd5Clusters08(s, dir))
        .select(col("doc_id"))
    }.oracle(
      s"""$Md5NearDupCtes,
        |$Md5ClusterCtes,
        |labels AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)""".stripMargin),
    Query("neardup_corpus_best") { (s, dir) =>
      // Same cluster pipeline, quality-aware survivor policy: the highest
      // qualityLogit member of each near-dup cluster survives (ties → min
      // id) — what a real curation pipeline keeps, since near-dups are not
      // byte-identical and one copy is usually cleaner.
      val docs = table(s, dir, "documents")
      val scored = docs.select(
        col("doc_id"),
        TextAnalysis.qualityLogit(col("text"), length(col("text"))).as("score")
      )
      // Optimization r15: shared clustering run.
      Dedup
        .dropNearDuplicatesKeepBestFromClusters(docs, sharedMd5Clusters08(s, dir), scored)
        .select(col("doc_id"))
    }.oracle(
      s"""$Md5NearDupCtes,
        |$Md5ClusterCtes,
        |labels AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |$QualityLogitCtes,
        |members AS (
        |  SELECT l.id, l.cluster, s.logit_micro
        |  FROM labels l JOIN scored s ON s.doc_id = l.id
        |), losers AS (
        |  SELECT id FROM (
        |    SELECT id, row_number() OVER (
        |      PARTITION BY cluster ORDER BY logit_micro DESC, id) AS rn
        |    FROM members)
        |  WHERE rn > 1
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin),
    Query("decontam_overlap") { (s, dir) =>
      // Benchmark decontamination hits: training docs sharing any word
      // 4-gram with the (broadcast) benchmark set. Stand-in benchmark: the
      // deterministic 1/13 doc stratum (the synthetic corpus has too little
      // long-n-gram cross-doc overlap for the classic 8/13-gram settings
      // to fire; the operator takes n as a parameter); training side is its complement.
      val docs = table(s, dir, "documents")
      graft.ops.Decontam.overlapCounts(
        docs.filter(col("doc_id") % 13 =!= 0),
        docs.filter(col("doc_id") % 13 === 0), n = 4)
    }.oracle(
      s"""WITH $DecontamGramCtes
        |)
        |SELECT tg.doc_id, count(*) AS n_hits
        |FROM tg JOIN bg USING (g) GROUP BY 1""".stripMargin),
    Query("delta_dedup") { (s, dir) =>
      // Incremental crawl dedup (ops/Dedup.scala): the prior snapshot
      // (docs 0-249) compiles into a constant-size bloom filter probed
      // map-only over the new batch; only bloom-positive candidates enter
      // the exact membership join. bloom_hit=1/is_dup=0 rows are the
      // filter's false positives, resolved exactly.
      val docs = table(s, dir, "documents")
      graft.ops.Dedup.deltaDedup(
        docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250))
    }.oracle(
      // bloom over snapshot text-md5s (same bf<i>- position family as
      // bloom_token_stats), then exact membership for bloom-positives
      """WITH snap AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250
        |), idx AS (SELECT unnest(range(3)) AS i),
        |bpos AS (
        |  SELECT CAST(('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || '-' || h), 1, 8))
        |    AS BIGINT) % 4096 AS pos
        |  FROM snap, idx
        |), bloom AS (
        |  SELECT pos // 64 AS word,
        |    bit_or(CASE WHEN pos % 64 = 63 THEN CAST('-9223372036854775808' AS BIGINT)
        |      ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT) END) AS bits
        |  FROM bpos GROUP BY 1
        |), batch AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250
        |), ppos AS (
        |  SELECT b.doc_id, b.h,
        |    CAST(('0x' || substr(md5('bf' || CAST(i.i AS VARCHAR) || '-' || b.h), 1, 8))
        |      AS BIGINT) % 4096 AS pos
        |  FROM batch b, idx i
        |), phit AS (
        |  SELECT doc_id, h,
        |    min(CASE WHEN ((coalesce(bl.bits, CAST(0 AS BIGINT)) >> CAST(pos % 64 AS INT)) & 1) = 1
        |      THEN 1 ELSE 0 END) AS bloom_hit
        |  FROM ppos LEFT JOIN bloom bl ON bl.word = pos // 64
        |  GROUP BY 1, 2
        |)
        |SELECT p.doc_id, CAST(p.bloom_hit AS INT) AS bloom_hit,
        |  CAST(CASE WHEN p.bloom_hit = 1 AND s.h IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
        |FROM phit p LEFT JOIN snap s USING (h)""".stripMargin),
    Query("delta_neardup") { (s, dir) =>
      // Incremental NEAR-dup: the snapshot's band keys are the index,
      // new-batch docs probe only their own buckets, verify runs on
      // batch x snapshot candidates alone — cost scales with the batch,
      // never corpus² (ops/Dedup.scala). Same split convention as
      // delta_dedup.
      val docs = table(s, dir, "documents")
      Dedup.deltaNearDupMd5(
        docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250))
    }.oracle(
      s"""$Md5SigCtes, sb AS (
        |  SELECT doc_id AS snap_id, band, bk FROM bandkey WHERE doc_id < 250
        |), bb AS (
        |  SELECT doc_id AS batch_id, band, bk FROM bandkey WHERE doc_id >= 250
        |), hot AS (
        |  SELECT band, bk FROM sb GROUP BY band, bk HAVING count(*) > 1000
        |), cd AS (
        |  SELECT DISTINCT bb.batch_id, sb.snap_id
        |  FROM bb JOIN sb ON sb.band = bb.band AND sb.bk = bb.bk
        |  LEFT JOIN hot h ON h.band = sb.band AND h.bk = sb.bk
        |  WHERE h.bk IS NULL
        |), pjd AS (
        |  SELECT batch_id, snap_id,
        |    CAST(len(list_filter(ha.hset, x -> list_contains(hb2.hset, x))) AS DOUBLE)
        |      / len(list_distinct(list_concat(ha.hset, hb2.hset))) AS jaccard
        |  FROM cd JOIN hs ha ON ha.doc_id = cd.batch_id
        |    JOIN hs hb2 ON hb2.doc_id = cd.snap_id
        |), gdd AS (SELECT * FROM pjd WHERE jaccard >= 0.8),
        |rk AS (
        |  SELECT batch_id, snap_id, jaccard,
        |    row_number() OVER (PARTITION BY batch_id ORDER BY jaccard DESC, snap_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY batch_id) AS BIGINT) AS n_matches
        |  FROM gdd
        |)
        |SELECT b.doc_id, coalesce(rk.n_matches, 0) AS n_matches,
        |  rk.snap_id AS best_match_id, rk.jaccard AS best_jaccard,
        |  CAST(CASE WHEN rk.snap_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) b
        |LEFT JOIN (SELECT * FROM rk WHERE rn = 1) rk ON rk.batch_id = b.doc_id""".stripMargin),
    Query("deletion_impact_report") { (s, dir) =>
      // Right-to-be-forgotten cascade, measured BEFORE the delete runs:
      // a deterministic erasure batch (doc_id % 29) priced across every
      // derived surface — corpus tokens, packed training sequences
      // invalidated (+ survivors needing repack), near-dup clusters whose
      // kept representative dies (+ the re-election pool), and inverted-
      // index postings/df-touched terms (ops/Deletion.scala).
      val docs = table(s, dir, "documents")
      graft.ops.Deletion.impactReport(
        docs,
        docs.filter(col("doc_id") % 29 === 0).select(col("doc_id")),
        graft.ops.Dedup.minhashMd5Pairs(docs, threshold = 0.8))
    }.oracle(
      // the erasure batch priced across corpus, packs, near-dup reps, and
      // postings; cluster labels replayed via the recursive closure
      s"""$Md5NearDupCtes,
        |$Md5ClusterCtes,
        |del AS (SELECT doc_id FROM documents WHERE doc_id % 29 = 0),
        |dt AS (
        |  SELECT d.doc_id,
        |    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_toks,
        |    CASE WHEN del.doc_id IS NULL THEN 0 ELSE 1 END AS dd
        |  FROM documents d LEFT JOIN del ON del.doc_id = d.doc_id
        |), docs_row AS (
        |  SELECT 'docs' AS surface, CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(sum(dd) AS BIGINT) AS n_affected,
        |    CAST(sum(CASE WHEN dd = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS n_collateral
        |  FROM dt
        |), pb AS (
        |  SELECT doc_id, CAST(doc_id % 32 AS BIGINT) AS bucket, n_toks, dd FROM dt
        |), pk AS (
        |  SELECT bucket,
        |    CAST(coalesce(sum(n_toks) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS pack_id,
        |    dd
        |  FROM pb
        |), pg AS (
        |  SELECT bucket, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dd) AS BIGINT) AS n_del
        |  FROM pk GROUP BY 1, 2
        |), packs_row AS (
        |  SELECT 'packs' AS surface, CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
        |    CAST(sum(CASE WHEN n_del > 0 THEN n_docs - n_del ELSE 0 END) AS BIGINT) AS n_collateral
        |  FROM pg
        |), labels AS (
        |  SELECT id, min(lab) AS cluster FROM reach GROUP BY id
        |), lm AS (
        |  SELECT l.cluster, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(sum(CASE WHEN del.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_del,
        |    max(CASE WHEN l.id = l.cluster AND del.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS rep_del
        |  FROM labels l LEFT JOIN del ON del.doc_id = l.id GROUP BY 1
        |), clusters_row AS (
        |  SELECT 'neardup_reps' AS surface, CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(sum(rep_del) AS BIGINT) AS n_affected,
        |    CAST(sum(CASE WHEN rep_del = 1 THEN n_members - n_del ELSE 0 END) AS BIGINT) AS n_collateral
        |  FROM lm
        |), post AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        |    FROM documents) WHERE tok != ''
        |), pj2 AS (
        |  SELECT p.doc_id, p.tok, CASE WHEN del.doc_id IS NULL THEN 0 ELSE 1 END AS dd
        |  FROM post p LEFT JOIN del ON del.doc_id = p.doc_id
        |), postings_row AS (
        |  SELECT 'postings' AS surface, CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(sum(dd) AS BIGINT) AS n_affected,
        |    CAST(count(DISTINCT CASE WHEN dd = 1 THEN tok END) AS BIGINT) AS n_collateral
        |  FROM pj2
        |)
        |SELECT surface, n_total, n_affected,
        |  CAST((2 * 10000 * n_affected + n_total) // (2 * n_total) AS INT) AS affected_bps,
        |  n_collateral
        |FROM (SELECT * FROM docs_row UNION ALL SELECT * FROM packs_row
        |  UNION ALL SELECT * FROM clusters_row UNION ALL SELECT * FROM postings_row)""".stripMargin),
    Query("deletion_dedup_repair") { (s, dir) =>
      // The APPLY face of the cascade: the deduped corpus AFTER the
      // doc_id % 29 erasure, with near-dup reps re-elected among the
      // survivors — formerly dropped members are RESURRECTED when their
      // kept rep dies (a plain kept-minus-deleted silently loses that
      // cluster's content forever). (ops/Deletion.scala)
      val docs = table(s, dir, "documents")
      graft.ops.Deletion.repairAfterDeletion(
        docs,
        docs.filter(col("doc_id") % 29 === 0).select(col("doc_id")),
        sharedMd5Pairs08(s, dir)) // optimization r15: shared pair build
    }.oracle(
      // survivors minus re-elected-cluster losers; resurrected = kept
      // docs the original dedup had dropped (non-reps)
      s"""$Md5NearDupCtes,
        |$Md5ClusterCtes,
        |del AS (SELECT doc_id FROM documents WHERE doc_id % 29 = 0),
        |labels AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |sl AS (
        |  SELECT l.id, l.cluster FROM labels l
        |  LEFT JOIN del ON del.doc_id = l.id WHERE del.doc_id IS NULL
        |), nr AS (SELECT cluster, min(id) AS keep_id FROM sl GROUP BY 1),
        |cl AS (
        |  SELECT sl.id FROM sl JOIN nr ON nr.cluster = sl.cluster
        |  WHERE sl.id != nr.keep_id
        |)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN l.id IS NOT NULL AND l.id != l.cluster THEN 1 ELSE 0 END AS INT)
        |    AS resurrected
        |FROM documents d
        |LEFT JOIN del ON del.doc_id = d.doc_id
        |LEFT JOIN cl ON cl.id = d.doc_id
        |LEFT JOIN labels l ON l.id = d.doc_id
        |WHERE del.doc_id IS NULL AND cl.id IS NULL""".stripMargin),
    Query("incremental_ingest_report") { (s, dir) =>
      // Nightly-ingest funnel: what the batch loses per stage before
      // joining the snapshot — exact-vs-snapshot, exact-in-batch,
      // neardup-vs-snapshot (indexed probe), quality gate; every stage's
      // cost scales with the batch (ops/Dedup.scala). Same ≥250/<250
      // split as delta_dedup/delta_neardup.
      val docs = table(s, dir, "documents")
      Dedup.incrementalIngestReport(
        docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250))
    }.oracle(IncrementalIngestOracle),
    Query("decontam_containment") { (s, dir) =>
      // Asymmetric containment decontamination: share of each training
      // doc's distinct 4-grams that appear in the benchmark stratum,
      // in exact basis points (ops/Decontam.scala). Benchmark grams
      // broadcast; the corpus never shuffles.
      val docs = table(s, dir, "documents")
      graft.ops.Decontam.containmentStats(
        docs.filter(col("doc_id") % 13 =!= 0),
        docs.filter(col("doc_id") % 13 === 0), n = 4, dropBp = 100)
    }.oracle(
      s"""WITH $DecontamGramCtes
        |), agg AS (
        |  SELECT tg.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN bg.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits
        |  FROM tg LEFT JOIN bg USING (g) GROUP BY 1
        |)
        |SELECT doc_id, n_grams, n_hits,
        |  CAST((2 * 10000 * n_hits + n_grams) // (2 * n_grams) AS BIGINT) AS containment_bp,
        |  CAST(CASE WHEN (2 * 10000 * n_hits + n_grams) // (2 * n_grams) >= 100
        |    THEN 1 ELSE 0 END AS INT) AS dropped
        |FROM agg""".stripMargin),
    Query("decontam_corpus") { (s, dir) =>
      // The decontaminated corpus: training docs with ZERO benchmark
      // 4-gram overlap survive (broadcast anti-join — corpus never
      // shuffles).
      val docs = table(s, dir, "documents")
      graft.ops.Decontam
        .decontaminate(
          docs.filter(col("doc_id") % 13 =!= 0),
          docs.filter(col("doc_id") % 13 === 0), n = 4)
        .select(col("doc_id"))
    }.oracle(
      s"""WITH $DecontamGramCtes
        |), hit AS (
        |  SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (g)
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 13 != 0 AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin),
    Query("cdc_md5_share_stats") { (s, dir) =>
      // Content-defined chunking share stats on the md5 window-hash
      // boundary rule — the oracle twin of cdc_share_stats: same
      // boundary→chunk→cross-doc-share semantics, engine-portable hashes
      // (the gear chunker stays the production fast path). Deterministic
      // 10% sample, same convention as minhash_md5_sigs: the window hash
      // costs one md5 PER CHARACTER — right for an anchor, wrong for a
      // full-corpus benchmark query (the dup-heavy corpus keeps ~90% of
      // sampled docs sharing chunks, so the anchor stays meaningful).
      Dedup.cdcMd5ShareStats(table(s, dir, "documents").filter(col("doc_id") % 10 === 0))
    }.oracle(
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id % 10 = 0
        |), pos AS (
        |  SELECT doc_id, t.i FROM d, unnest(range(8, n + 1)) t(i)
        |  WHERE substr(md5(substr(text, CAST(t.i - 7 AS INT), 8)), 1, 1) = '0'
        |), bl AS (
        |  SELECT doc_id, list_sort(list(i)) AS bs FROM pos GROUP BY doc_id
        |), withb AS (
        |  SELECT d.doc_id, d.text, d.n, coalesce(bl.bs, []) AS bs
        |  FROM d LEFT JOIN bl USING (doc_id)
        |), ch AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(list_filter(
        |    list_transform(range(1, len(bs) + 2),
        |      j -> substr(text,
        |        CAST((CASE WHEN j = 1 THEN 0 ELSE bs[j-1] END) + 1 AS INT),
        |        CAST((CASE WHEN j = len(bs) + 1 THEN n ELSE bs[j] END)
        |          - (CASE WHEN j = 1 THEN 0 ELSE bs[j-1] END) AS INT))),
        |    c -> len(c) > 0), c -> md5(c)))) AS c
        |  FROM withb WHERE n > 0
        |), g AS (
        |  SELECT c, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY 1
        |)
        |SELECT ch.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |FROM ch JOIN g USING (c) GROUP BY 1""".stripMargin),
    Query("neardup_star_md5") { (s, dir) =>
      // Large-star/small-star connected components over the md5-anchored
      // pair set — anchors the O(log n) star algorithm (the chain-robust
      // production CC) to the same recursive-CTE oracle as
      // neardup_clusters_md5: both return (id, min id of component).
      // Optimization r15: rides the shared pair build (the star CC run
      // itself is this face's measured algorithm).
      Dedup.nearDupClustersStar(sharedMd5Pairs08(s, dir))
    }.oracle(
      s"""$Md5NearDupCtes,
        |$Md5ClusterCtes
        |SELECT id, min(lab) AS cluster FROM reach GROUP BY id""".stripMargin),
    Query("editdist_pairs") { (s, dir) =>
      // Character-level near-dup join: doc-prefix pairs within Levenshtein
      // distance 2, blocked by PassJoin segment signatures (Li et al.
      // ICDE'11) — an unedited ~13-char segment must match EXACTLY, so
      // candidates stay rare even on low-diversity text where the
      // rare-3-gram prefix filter (editDistancePairs, the spec'd alternate)
      // admitted ~26% of all pairs. Same pairs, same distances, same
      // oracle (ops/EditSim.scala).
      graft.ops.EditSim.passJoinPairs(
        table(s, dir, "documents"),
        substring(lower(col("text")), 1, 40),
        maxDist = 2)
    }.oracle(
      // same rare-gram prefix blocking, same verify: the candidate SET is
      // deterministic (total (freq, gram) order), so the whole
      // approximation-free pipeline replays exactly
      """WITH b AS (
        |  SELECT doc_id AS id, substr(lower(text), 1, 40) AS s,
        |    CAST(length(substr(lower(text), 1, 40)) AS BIGINT) AS len
        |  FROM documents WHERE length(text) > 0
        |), g AS (
        |  SELECT DISTINCT id, gram FROM (
        |    SELECT id, unnest(list_transform(
        |      range(1, CAST(greatest(len - 2, 1) + 1 AS INT)),
        |      i -> substr(s, CAST(i AS INT), 3))) AS gram
        |    FROM b)
        |), f AS (
        |  SELECT gram, CAST(count(*) AS BIGINT) AS f FROM g GROUP BY 1
        |), pfx AS (
        |  SELECT id, gram FROM (
        |    SELECT g.id, g.gram,
        |      row_number() OVER (PARTITION BY g.id ORDER BY f.f, g.gram) AS rn
        |    FROM g JOIN f USING (gram))
        |  WHERE rn <= 7
        |), deg AS (
        |  -- ids with <= q*d distinct grams can pair while sharing NO gram:
        |  -- length-blocked branch (mirrors EditSim's degenerate sliver)
        |  SELECT b.id, b.len FROM b
        |  JOIN (SELECT id FROM g GROUP BY id HAVING count(*) <= 6) d ON d.id = b.id
        |), cand AS (
        |  SELECT DISTINCT id_a, id_b FROM (
        |    SELECT a.id AS id_a, b.id AS id_b
        |    FROM pfx a JOIN pfx b ON a.gram = b.gram AND a.id < b.id
        |    UNION ALL
        |    SELECT da.id, db.id FROM deg da JOIN deg db
        |      ON da.id < db.id AND abs(da.len - db.len) <= 2)
        |)
        |SELECT c.id_a, c.id_b, CAST(levenshtein(x.s, y.s) AS INT) AS dist
        |FROM cand c JOIN b x ON x.id = c.id_a JOIN b y ON y.id = c.id_b
        |WHERE abs(x.len - y.len) <= 2 AND levenshtein(x.s, y.s) <= 2""".stripMargin),
    Query("simhash_calibration") { (s, dir) =>
      // Does hamming ≤ 3 actually mean near-duplicate HERE? Each
      // SimHash candidate pair next to its exact token-set Jaccard —
      // the simhash family's minhash_calibration analogue; sets join
      // only the band-capped candidate pairs (ops/Dedup.scala).
      val docs = table(s, dir, "documents")
      val pairs = sharedSimhashMd5Pairs(s, dir) // optimization r15: shared build
      val sets = docs.select(
        col("doc_id"), array_distinct(TextAnalysis.tokens(col("text"))).as("tset"))
      pairs
        .join(sets.select(col("doc_id").as("id_a"), col("tset").as("ta")), Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"), col("tset").as("tb")), Seq("id_b"))
        .select(
          col("id_a"), col("id_b"), col("hamming"),
          (size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb")))).as("jaccard"))
    }.oracle(
      s"""WITH $SimhashBandCandCtes
        |), ham AS (
        |  SELECT id_a, id_b, CAST(bit_count(xor(fa.fp, fb.fp)) AS INT) AS hamming
        |  FROM cand JOIN fp fa ON fa.doc_id = cand.id_a JOIN fp fb ON fb.doc_id = cand.id_b
        |  WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
        |)
        |SELECT h.id_a, h.id_b, h.hamming,
        |  CAST(len(list_filter(a.ts, x -> list_contains(b.ts, x))) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.ts, b.ts))) AS jaccard
        |FROM ham h JOIN toks a ON a.doc_id = h.id_a JOIN toks b ON b.doc_id = h.id_b""".stripMargin),
    Query("simhash_md5_pairs") { (s, dir) =>
      // Full SimHash near-dup pair pipeline (fingerprint → pigeonhole chunk
      // bands → bucket pairs → exact hamming verify) on the md5-anchored
      // 32-bit fingerprint — the oracle twin of simhash_neardup_pairs
      // (DuckDB reproduces candidates AND hamming via bit_count(xor)).
      // maxBucket 500 for the same tiny-vocabulary reason as the prod form.
      // Optimization r15: the memoized shared pair frame (also verified
      // token-wise by simhash_calibration).
      sharedSimhashMd5Pairs(s, dir)
    }.oracle(
      s"""WITH $SimhashBandCandCtes
        |)
        |SELECT id_a, id_b, CAST(bit_count(xor(fa.fp, fb.fp)) AS INT) AS hamming
        |FROM cand JOIN fp fa ON fa.doc_id = cand.id_a JOIN fp fb ON fb.doc_id = cand.id_b
        |WHERE bit_count(xor(fa.fp, fb.fp)) <= 3""".stripMargin),
    Query("fuzzy_prefix_pairs") { (s, dir) =>
      // Blocked fuzzy self-join: English docs blocked on their first token,
      // verified by levenshtein over the 24-char prefix. (lang gate keeps
      // the compare ASCII — DuckDB's levenshtein and substr must agree with
      // Spark's character semantics.)
      val docs = table(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(
          col("doc_id"),
          substring(col("text"), 1, 24).as("p24"),
          element_at(split(lower(col("text")), "\\s+"), 1).as("bk")
        )
      graft.ops.FuzzyJoin.blockedLevenshteinPairs(docs, "doc_id", "p24", col("bk"), maxDist = 8)
    }.oracle(
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 24) AS p24,
        |    string_split_regex(lower(text), '\s+')[1] AS bk
        |  FROM documents WHERE lang = 'en'
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.p24, b.p24) AS INT) AS dist
        |FROM d a JOIN d b ON a.bk = b.bk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.p24, b.p24) <= 8""".stripMargin),
    Query("cdc_share_stats") { (s, dir) =>
      // Content-defined chunking share stats: insert-robust exact-substring
      // dedup signal (gear rolling-hash boundaries → no SQL oracle; the
      // chunker is spec-verified against a reference implementation and the
      // fixed-passage form in CdcSpec).
      Dedup.cdcShareStats(table(s, dir, "documents"))
    },
    Query("doc_dedup_weights") { (s, dir) =>
      // Loss-level dedup: instead of DROPPING copies, weight every doc by
      // 1/|exact-dup cluster| so repeated text contributes unit mass to
      // the training loss (the soft alternative keep-one pipelines
      // destroy). One exchange carrying (doc_id, md5) — text never
      // shuffles; exact round-half-up micro weights.
      val c = table(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn(
          "cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      c.select(
        col("doc_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        floor((lit(2000000L) + col("cluster_size")) /
          (lit(2L) * col("cluster_size")).cast("double")).cast("long").as("weight_micro"))
    }.oracle(
      """WITH c AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS cs FROM documents
        |)
        |SELECT doc_id, CAST(cs AS BIGINT) AS cluster_size,
        |  CAST((2000000 + cs) // (2*cs) AS BIGINT) AS weight_micro
        |FROM c""".stripMargin),
    Query("chunk_dedup_rewrite") { (s, dir) =>
      // C4-style global chunk dedup with corpus rewrite: first-occurrence
      // winners by chunk md5, documents re-assembled from survivors.
      Dedup.chunkDedupRewrite(table(s, dir, "documents"), width = 10)
    }.oracle(
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         unnest(range(len(string_split(text, ' ')))) AS p
        |  FROM documents
        |), ch AS (
        |  SELECT doc_id, p // 10 AS cpos, string_agg(w, ' ' ORDER BY p) AS chunk
        |  FROM w GROUP BY 1, 2
        |), k AS (
        |  SELECT doc_id, cpos, chunk FROM (
        |    SELECT doc_id, cpos, chunk,
        |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cpos) AS rn
        |    FROM ch)
        |  WHERE rn = 1
        |), re AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(chunk, ' ' ORDER BY cpos)) AS kept_md5
        |  FROM k GROUP BY 1
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1
        |)
        |SELECT t.doc_id, t.n_chunks, coalesce(r.n_kept, 0) AS n_kept,
        |  coalesce(r.kept_md5, md5('')) AS kept_md5
        |FROM tot t LEFT JOIN re r ON r.doc_id = t.doc_id""".stripMargin),
    Query("winnow_fingerprints") { (s, dir) =>
      // MOSS winnowing (Schleimer et al. 2003): distinct per-window minima
      // of positional 4-gram md5 hashes (window 5). One doc-keyed
      // exchange, no joins; set identity crosses engines as one md5 of
      // the sorted fingerprint list (ops/Winnow.scala).
      graft.ops.Winnow.fingerprints(table(s, dir, "documents"), k = 4, w = 5)
    }.oracle(
      s"""WITH $WinnowFpCtes
        |  SELECT DISTINCT doc_id, fp FROM sel WHERE pos <= max_pos - 4
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
        |  md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY fp)) AS fp_md5
        |FROM fps GROUP BY doc_id""".stripMargin),
    Query("kcore_neardup") { (s, dir) =>
      // k-core of the md5 near-dup graph (k=2, 4 peeling rounds — the
      // boilerplate-family density detector): fixed-round unroll so the
      // iteration replays as CTE-per-round SQL; per-round state is the
      // shrinking ids-only edge list (ops/Graph.scala).
      // Optimization r15: threshold-0.5 pairs are a filter over the
      // memoized threshold-0 frame (threshold = the final jaccard filter).
      graft.ops.Graph.kCorePeel(
        sharedMd5PairsT0(s, dir).filter(col("jaccard") >= 0.5),
        k = 2, rounds = 4)
    }.oracle(kCoreOracle(k = 2, rounds = 4, threshold = 0.5)),
    Query("winnow_pairs") { (s, dir) =>
      // Copy-candidate pairs by shared winnowed fingerprints (≥3 shared,
      // boilerplate buckets >50 docs dropped — the MinHash-LSH degenerate-
      // bucket rule applied to MOSS fingerprints); pairs generate
      // executor-side from each bucket's sorted doc array
      // (ops/Winnow.scala).
      graft.ops.Winnow.candidatePairs(
        table(s, dir, "documents"), k = 4, w = 5, minShared = 3, maxBucket = 50)
    }.oracle(
      s"""WITH $WinnowFpCtes
        |  SELECT DISTINCT doc_id, fp FROM sel WHERE pos <= max_pos - 4
        |), ok AS (
        |  SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 50
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM fps a JOIN fps b USING (fp) JOIN ok USING (fp)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),
    Query("decontam_neardup") { (s, dir) =>
      // Paraphrase-level contamination: corpus docs that are MinHash
      // near-dups (j >= 0.5) of the held-out slice (doc_id % 5 == 0 plays
      // the benchmark); cross-side pair filter is a pure id expression —
      // no join back to the data (ops/Decontam.scala).
      graft.ops.Decontam.nearDupContamination(
        table(s, dir, "documents"), id => id % 5 === 0, threshold = 0.5)
    }.oracle(
      (Md5NearDupCtes + """,
        |good AS (SELECT id_a, id_b, jaccard FROM pj WHERE jaccard >= 0.5),
        |crossed AS (
        |  SELECT CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS doc_id, jaccard
        |  FROM good WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
        |  max(CAST(floor(jaccard * 10000 + 0.5e0) AS BIGINT)) AS best_jaccard_bp
        |FROM crossed GROUP BY doc_id""".stripMargin)),
    Query("minhash_width_sweep") { (s, dir) =>
      // The other MinHash knob, measured: mean/max |estimate − exact| per
      // signature width over the LSH candidate pairs — ONE signature job,
      // prefix estimates per width (ops/Dedup.scala). Reads as "what 64
      // hashes buy over 16" before paying width-linear shuffle at 10⁹.
      Dedup.minhashWidthSweep(table(s, dir, "documents"))
    }.oracle({
      val widths = Seq(8, 16, 32, 64)
      val nmCols = widths.map(n =>
        s"CAST(count(*) FILTER (WHERE sa.m = sb.m AND sa.j < $n) AS BIGINT) AS nm$n")
        .mkString(",\n    ")
      val legs = widths.map { n =>
        s"""SELECT CAST($n AS INT) AS sig_width,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST((2 * sum(err) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_abs_err_bps,
          |  CAST(max(err) AS BIGINT) AS max_abs_err_bps
          |FROM (
          |  SELECT abs((20000 * nm$n + $n) // (2 * $n)
          |    - (20000 * inter + uni) // (2 * uni)) AS err
          |  FROM cal)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$Md5NearDupCtes, mm AS (
        |  SELECT cand.id_a, cand.id_b,
        |    $nmCols
        |  FROM cand
        |  JOIN sig sa ON sa.doc_id = cand.id_a
        |  JOIN sig sb ON sb.doc_id = cand.id_b AND sb.j = sa.j
        |  GROUP BY 1, 2
        |), cal AS (
        |  SELECT mm.*,
        |    CAST(len(list_filter(ha.hset, x -> list_contains(hb.hset, x))) AS BIGINT) AS inter,
        |    CAST(len(list_distinct(list_concat(ha.hset, hb.hset))) AS BIGINT) AS uni
        |  FROM mm JOIN hs ha ON ha.doc_id = mm.id_a JOIN hs hb ON hb.doc_id = mm.id_b
        |)
        |$legs""".stripMargin
    }),
    Query("minhash_calibration") { (s, dir) =>
      // MinHash estimator calibration: signature-estimate vs exact
      // Jaccard per LSH candidate pair, exact bps + signed error — "how
      // many hash functions does my dedup threshold actually need",
      // measured (ops/Dedup.scala).
      Dedup.minhashCalibration(table(s, dir, "documents"))
    }.oracle(
      s"""$Md5CalibrationCtes
        |)
        |SELECT id_a, id_b, n_match,
        |  CAST((20000 * n_match + 64) // 128 AS BIGINT) AS est_bps,
        |  CAST((20000 * inter + uni) // (2 * uni) AS BIGINT) AS exact_bps,
        |  CAST((20000 * n_match + 64) // 128
        |    - (20000 * inter + uni) // (2 * uni) AS BIGINT) AS err_bps
        |FROM cal""".stripMargin),
    Query("weighted_minhash_pairs") { (s, dir) =>
      // tf-WEIGHTED near-dup pairs: MinHash over the integer-weight-
      // expanded token multiset, so the verified score is the exact
      // capped weighted Jaccard (bps) — catches shared term
      // DISTRIBUTIONS, the complement of shingle MinHash
      // (ops/Dedup.scala).
      Dedup.weightedMinhashPairs(
        table(s, dir, "documents"), bands = 8, minBps = 8000L, minEstMatches = 44)
    }.oracle(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, least(count(*), 8) AS w
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2
        |), ex AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok || '#' || CAST(o.occ AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM tf, unnest(range(1, w + 1)) AS o(occ)
        |), hs AS (
        |  SELECT doc_id, list_distinct(list(h)) AS hset FROM ex GROUP BY doc_id
        |), sig AS (
        |  SELECT doc_id, j.j AS j,
        |    min(((((2654435761 * (j.j+1)) % 2147483647) | 1) * (h % 2147483647)
        |      + ((40503 * (j.j+1) * (j.j+1)) % 2147483647)) % 2147483647) AS m
        |  FROM ex, range(64) j(j) GROUP BY 1, 2
        |), bandkey AS (
        |  SELECT doc_id, j // 8 AS band, string_agg(CAST(m AS VARCHAR), '-' ORDER BY j) AS bk
        |  FROM sig GROUP BY doc_id, j // 8
        |), bucket_ok AS (
        |  SELECT band, bk FROM bandkey GROUP BY band, bk HAVING count(*) BETWEEN 2 AND 1000
        |), cand0 AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bucket_ok o
        |  JOIN bandkey a ON a.band = o.band AND a.bk = o.bk
        |  JOIN bandkey b ON b.band = o.band AND b.bk = o.bk AND a.doc_id < b.doc_id
        |), sl AS (
        |  SELECT doc_id, list(m ORDER BY j) AS sl FROM sig GROUP BY doc_id
        |), cand AS (
        |  SELECT id_a, id_b FROM cand0
        |  JOIN sl sa ON sa.doc_id = cand0.id_a
        |  JOIN sl sb ON sb.doc_id = cand0.id_b
        |  WHERE len(list_filter(range(1, 65), i -> sa.sl[i] = sb.sl[i])) >= 44
        |), pj AS (
        |  SELECT id_a, id_b,
        |    CAST((20000 * len(list_filter(ha.hset, x -> list_contains(hb.hset, x)))
        |      + len(list_distinct(list_concat(ha.hset, hb.hset))))
        |      // (2 * len(list_distinct(list_concat(ha.hset, hb.hset)))) AS BIGINT) AS wjaccard_bps
        |  FROM cand JOIN hs ha ON ha.doc_id = cand.id_a JOIN hs hb ON hb.doc_id = cand.id_b
        |)
        |SELECT id_a, id_b, wjaccard_bps FROM pj WHERE wjaccard_bps >= 8000""".stripMargin),
    Query("dedup_savings_report") { (s, dir) =>
      // What exact dedup buys, before running it: cluster-size histogram
      // with the docs and tokens a keep-one pass would remove — copies in
      // a cluster share identical text, so removable tokens are exactly
      // (size-1) x per-copy tokens. Text is hashed at the scan; both
      // aggregations carry 128-bit keys + counts only.
      table(s, dir, "documents")
        .select(
          md5(col("text")).as("h"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("cs"), max(col("n_tokens")).as("tok1"))
        .groupBy(col("cs"))
        .agg(
          count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("cs")).as("n_docs"),
          (count(lit(1)) * (col("cs") - 1)).as("docs_removable"),
          sum(expr("(cs - 1) * tok1")).as("tokens_removable"))
        .withColumnRenamed("cs", "cluster_size")
    }.oracle(
      """WITH h AS (
        |  SELECT md5(text) AS h,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS cs, max(n_tokens) AS tok1
        |  FROM h GROUP BY 1
        |)
        |SELECT cs AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(count(*) * cs AS BIGINT) AS n_docs,
        |  CAST(count(*) * (cs - 1) AS BIGINT) AS docs_removable,
        |  CAST(sum((cs - 1) * tok1) AS BIGINT) AS tokens_removable
        |FROM c GROUP BY 1""".stripMargin),
    Query("effective_token_counts") { (s, dir) =>
      // Dedup-discounted corpus size per source: each doc weighted by
      // 1/|its exact-dup cluster|, so raw duplication can't inflate a
      // source's claim on the training mix (ops/Dedup.scala).
      Dedup.effectiveTokenCounts(table(s, dir, "documents"))
    }.oracle(
      """WITH h AS (
        |  SELECT source, md5(text) AS h,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), cs AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS cs FROM h GROUP BY 1
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT x.h) AS BIGINT) AS n_distinct_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum((2 * 1000000 * n_tokens + cs) // (2 * cs)) AS BIGINT)
        |    AS effective_tokens_micro
        |FROM h x JOIN cs USING (h) GROUP BY 1""".stripMargin),
    Query("minhash_threshold_sweep") { (s, dir) =>
      // Dedup operating-point table: estimator-vs-exact confusion counts
      // at each candidate Jaccard threshold over the LSH candidates —
      // how to pick the threshold and whether an exact verify stage is
      // needed (ops/Dedup.scala).
      Dedup.minhashThresholdSweep(table(s, dir, "documents"))
    }.oracle(
      s"""$Md5CalibrationCtes
        |), est AS (
        |  SELECT (20000 * n_match + 64) // 128 AS est_bps,
        |    (20000 * inter + uni) // (2 * uni) AS exact_bps
        |  FROM cal
        |), th AS (SELECT unnest([3000, 5000, 7000, 8000, 9000]) AS t)
        |SELECT CAST(t AS BIGINT) AS threshold_bps, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN est_bps >= t AND exact_bps >= t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_true_pos,
        |  CAST(sum(CASE WHEN est_bps >= t AND exact_bps < t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_false_pos,
        |  CAST(sum(CASE WHEN est_bps < t AND exact_bps >= t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_false_neg,
        |  CAST(sum(CASE WHEN est_bps < t AND exact_bps < t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_true_neg
        |FROM est CROSS JOIN th GROUP BY 1""".stripMargin),
    Query("lsh_blocking_recall") { (s, dir) =>
      // The number minhash_threshold_sweep CANNOT see: recall of the LSH
      // BLOCKING itself. The sweep conditions on LSH candidates; pairs
      // that never shared a band bucket are invisible to it. Here the
      // lossless prefix-filter join (setsim — recall 1.0 by construction)
      // provides the true ≥0.8 pair set and the banded md5 MinHash
      // pipeline is graded against it — the measured banding trade-off,
      // one ids-only outer join, single-row output.
      // Optimization r16: the graded pipeline is the memoized threshold-0
      // band build filtered at 0.8 (threshold = the final jaccard filter,
      // the r15 sharedMd5Pairs08 equivalence) — this row re-ran the whole
      // banding+verify chain per bench pass.
      val gold = sharedSetsimGold(s, dir).select(col("id_a"), col("id_b"), lit(1L).as("g"))
      val lsh = sharedMd5Pairs08(s, dir)
        .select(col("id_a"), col("id_b"), lit(1L).as("f"))
      gold.join(lsh, Seq("id_a", "id_b"), "outer")
        .agg(
          sum(coalesce(col("g"), lit(0L))).as("n_gold"),
          sum(coalesce(col("f"), lit(0L))).as("n_lsh"),
          sum(when(col("g").isNotNull && col("f").isNotNull, 1L).otherwise(0L))
            .as("n_common"))
        .select(
          col("n_gold"), col("n_lsh"), col("n_common"),
          floor((lit(20000L) * col("n_common") + col("n_gold")) /
            (lit(2L) * col("n_gold")).cast("double")).cast("long").as("recall_bps"),
          floor((lit(20000L) * col("n_common") + col("n_lsh")) /
            (lit(2L) * col("n_lsh")).cast("double")).cast("long").as("precision_bps"))
    }.oracle(
      s"""$Md5NearDupCtes, lshp AS (
        |  SELECT id_a, id_b FROM pj WHERE jaccard >= 0.8
        |), gg AS (
        |  SELECT doc_id, unnest(g) AS gram FROM grams
        |), gsz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM gg GROUP BY 1
        |), ginter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
        |  FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), gold AS (
        |  SELECT id_a, id_b
        |  FROM ginter JOIN gsz sa ON sa.doc_id = id_a JOIN gsz sb ON sb.doc_id = id_b
        |  WHERE 1000000 * ni >= 800000 * (sa.n + sb.n - ni)
        |), cnt AS (SELECT
        |  (SELECT count(*) FROM gold) AS n_gold,
        |  (SELECT count(*) FROM lshp) AS n_lsh,
        |  (SELECT count(*) FROM gold JOIN lshp USING (id_a, id_b)) AS n_common)
        |SELECT CAST(n_gold AS BIGINT) AS n_gold, CAST(n_lsh AS BIGINT) AS n_lsh,
        |  CAST(n_common AS BIGINT) AS n_common,
        |  CAST(floor((20000*n_common + n_gold) / (2.0*n_gold)) AS BIGINT) AS recall_bps,
        |  CAST(floor((20000*n_common + n_lsh) / (2.0*n_lsh)) AS BIGINT) AS precision_bps
        |FROM cnt""".stripMargin),
    Query("lsh_band_auto_plan") { (s, dir) =>
      // The banding knob closed into a PLANNER (the ann_filtered_auto
      // discipline): per (bands, rowsPerBand) config off ONE checkpointed
      // signature pass, the measured candidate count (the verify cost a
      // coarser banding buys down) and the measured recall against the
      // SAME lossless setsim gold lsh_blocking_recall grades with (shared
      // build) — then the choice: cheapest config with recall ≥ 95%, else
      // highest recall, deterministic tie-breaks, the decision riding
      // every row as a column (ops/Dedup.scala).
      Dedup.lshBandAutoPlan(
        table(s, dir, "documents"), sharedSetsimGold(s, dir))
    }.oracle(
      s"""$Md5SigCtes, gg AS (
        |  SELECT doc_id, unnest(g) AS gram FROM grams
        |), gsz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM gg GROUP BY 1
        |), ginter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
        |  FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), gold AS MATERIALIZED (
        |  SELECT id_a, id_b
        |  FROM ginter JOIN gsz sa ON sa.doc_id = id_a JOIN gsz sb ON sb.doc_id = id_b
        |  WHERE 1000000 * ni >= 800000 * (sa.n + sb.n - ni)
        |), ng AS (SELECT CAST(count(*) AS BIGINT) AS n_gold FROM gold),
        |cfg AS (SELECT CAST(unnest([4, 8, 16, 32]) AS INT) AS bands),
        |cbk AS MATERIALIZED (
        |  SELECT c.bands, s.doc_id, s.j // (64 // c.bands) AS band,
        |    string_agg(CAST(s.m AS VARCHAR), '-' ORDER BY s.j) AS bkey
        |  FROM sig s, cfg c GROUP BY 1, 2, 3
        |), cok AS (
        |  SELECT bands, band, bkey FROM cbk GROUP BY 1, 2, 3
        |  HAVING count(*) BETWEEN 2 AND 1000
        |), ccand AS MATERIALIZED (
        |  SELECT DISTINCT k.bands, a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM cok k
        |  JOIN cbk a ON a.bands = k.bands AND a.band = k.band AND a.bkey = k.bkey
        |  JOIN cbk b ON b.bands = k.bands AND b.band = k.band AND b.bkey = k.bkey
        |    AND a.doc_id < b.doc_id
        |), per AS (
        |  SELECT f.bands, CAST(64 // f.bands AS INT) AS rows_per_band,
        |    CAST(coalesce(cnt.n_candidates, 0) AS BIGINT) AS n_candidates,
        |    (SELECT n_gold FROM ng) AS n_gold,
        |    CAST(coalesce(cnt.n_hit, 0) AS BIGINT) AS n_hit
        |  FROM cfg f LEFT JOIN (
        |    SELECT c.bands, count(*) AS n_candidates,
        |      sum(CASE WHEN g.id_a IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        |    FROM ccand c LEFT JOIN gold g ON g.id_a = c.id_a AND g.id_b = c.id_b
        |    GROUP BY 1) cnt ON cnt.bands = f.bands
        |), sc AS (
        |  SELECT *,
        |    CASE WHEN n_gold > 0 THEN (10000 * n_hit) // n_gold END AS recall_bps,
        |    CASE WHEN n_gold = 0 OR 10000 * n_hit >= 9500 * n_gold THEN 1 ELSE 0 END AS q
        |  FROM per
        |), rk AS (
        |  SELECT *, row_number() OVER (ORDER BY q DESC,
        |    CASE WHEN q = 1 THEN n_candidates ELSE -n_hit END ASC, bands ASC) AS rnk
        |  FROM sc
        |)
        |SELECT bands, rows_per_band, n_candidates, n_gold, n_hit,
        |  CAST(recall_bps AS BIGINT) AS recall_bps, CAST(q AS INT) AS qualified,
        |  CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS INT) AS chosen
        |FROM rk""".stripMargin)
  )
}
