package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Helpers that two or more query families read: the table readers
  * ([[table]], [[eventsTable]], [[eventsTableRange]]), the cents quantizer,
  * the content key of built-once warehouse copies, the one shared-leg memo
  * ([[sharedState]]) with the legs several families reuse, and the oracle
  * SQL fragments several families replay. Nothing here reads a family, so
  * initializing this object never initializes one.
  */
object Shared {

  private[registry] def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Cache key of table `tbl` under `dir` for a copy built once into the
    * warehouse: md5 of `dir` plus the sorted (name, length, modification
    * time) of the table's visible files, read with one `listStatus` and no
    * Spark job. A table regenerated in place gets new files, so the key
    * changes and the copy is rebuilt, never served stale (StaleIndexSpec).
    */
  private[graft] def contentKey(s: SparkSession, dir: String, tbl: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$tbl.parquet")
    val files = path.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(path).toSeq
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .map(f => s"${f.getPath.getName}|${f.getLen}|${f.getModificationTime}").sorted
    org.apache.commons.codec.digest.DigestUtils.md5Hex((dir +: files).mkString("\n")).take(16)
  }

  /** Warehouse location `prefix` + [[contentKey]] for a built-once index. */
  private[registry] def contentKeyedLoc(s: SparkSession, dir: String, prefix: String, tbl: String) =
    new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), prefix + contentKey(s, dir, tbl))

  // Shared legs and shared state: a query family that reads the SAME
  // expensive build (the four ann_graph_* queries walk one navigation graph
  // against one brute-force gold; re-deriving both per query cost ~19 s of
  // the round-8 bench for four rows) memoizes it per (session, sfDir, name):
  // the first family member run pays the build, the rest reuse the pinned
  // value (a checkpointed frame or a small in-memory tuple). Keyed by
  // applicationId (localCheckpoint RDDs are context-scoped) so a
  // stopped-and-restarted context can never serve a stale checkpoint, and
  // by a name unique per memoized value (frames and tuples share the one
  // map). The memo stores a LAZY holder, not the value:
  // TrieMap.getOrElseUpdate inserts atomically but does not deduplicate
  // in-flight builds, so under the concurrent Verify dump (default 6
  // queries in flight) the four ann_graph_* queries would each rebuild the
  // expensive legs before the first insert won. All racers get the WINNING
  // holder; its `lazy val` then blocks them on one build.
  private[registry] final class StateHolder[T](build: => T) { lazy val value: T = build }
  private[registry] val sharedStateMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), StateHolder[_]]

  private[registry] def sharedState[T](s: SparkSession, dir: String, what: String)(
      build: => T): T =
    sharedStateMemo
      .getOrElseUpdate((s.sparkContext.applicationId, dir, what), new StateHolder(build))
      .value.asInstanceOf[T]

  /** The corpus-wide IVF top-5 directed frame (default anchors/nprobe) —
    * one build shared by mutual_nn_ivf, lof_outliers_ivf, and the
    * SemDeDup-v2 family (each previously re-ran the identical
    * assign/probe/score chain per query per bench pass). N×5 id+score
    * rows, scale-safe to pin.
    */
  private[registry] def sharedIvfTopk5(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "ivfTopk5Full") {
      val emb = table(s, dir, "embeddings")
      Similarity.ivfAnchorTopK(emb, emb, k = 5).localCheckpoint(eager = true)
    }

  /** The events table has shipped with two physical layouts for `ts`:
    * nanosecond parquet timestamps (rounds ≤5 — unrepresentable as Spark
    * TimestampType, read as raw nanos via `nanosAsLong`) and plain µs
    * timestamps (round 6+). Normalize BOTH to the same canonical columns —
    * `ts` as raw epoch NANOS (bigint), `ts_ms` (epoch millis), `event_time`
    * (µs-precision timestamp) — so every downstream query is layout-blind.
    * Naive (NTZ) µs timestamps are interpreted as UTC, matching DuckDB's
    * `epoch_ms(ts)` on the same file; session TZ is pinned to UTC before the
    * cast so the JVM zone can never skew the epoch.
    */
  private[registry] def eventsTable(spark: SparkSession, dir: String): DataFrame =
    eventsTableRange(spark, dir, None)

  /** `eventsTable` with an optional [lo, hi) epoch-NANOS range applied to the
    * NATIVE file column before normalization, so the predicate reaches the
    * parquet scan (row-group stats pruning) under either physical layout —
    * a filter on the derived nanos column would evaluate post-scan.
    */
  private[registry] def eventsTableRange(
      spark: SparkSession,
      dir: String,
      rangeNanos: Option[(Long, Long)]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = table(spark, dir, "events")
    val isLong = raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val bounded = rangeNanos match {
      case None => raw
      case Some((lo, hi)) if isLong =>
        raw.filter(col("ts") >= lo && col("ts") < hi)
      case Some((lo, hi)) =>
        // µs layout: compare against timestamp literals cast to the file
        // column's exact type (NTZ naive-UTC under the pinned session TZ).
        // Ceil the ns→µs conversion on BOTH bounds: ts_µs ≥ lo_ns/1000 ⇔
        // ts_µs ≥ ⌈lo_ns/1000⌉ and ts_µs < hi_ns/1000 ⇔ ts_µs < ⌈hi_ns/1000⌉
        // for the µs-grid column — truncation admitted one extra µs tick at
        // a non-aligned lower bound and dropped one at the upper.
        def tsLit(nanos: Long) =
          timestamp_micros(lit((nanos + 999L) / 1000L)).cast(raw.schema("ts").dataType)
        raw.filter(col("ts") >= tsLit(lo) && col("ts") < tsLit(hi))
    }
    val ev =
      if (isLong) bounded
      else bounded.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    ev.withColumn("ts_ms", expr("ts DIV 1000000"))
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
  }

  /** Per-row exact cents from a 2-decimal double; identical formula is used
    * in the oracle SQL so both engines quantize identically.
    */
  private[registry] def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100 + 0.5).cast("long")

  /** The threshold-0 md5-MinHash verified pair frame (the operator
    * checkpoints it), built once per (session, dir) for every face that
    * consumes the unfiltered pair pipeline.
    */
  private[registry] def sharedMd5PairsT0(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "md5PairsT0") {
      Dedup.minhashMd5Pairs(table(s, dir, "documents"))
    }

  /** The exact containment pair frame at the default 8000 bps threshold —
    * containment_pairs reports it and containment_minhash_est scores its
    * sketch against it.
    */
  private[registry] def sharedContainmentPairs(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "containmentPairs") {
      Dedup.containmentMd5Pairs(table(s, dir, "documents"))
        .localCheckpoint(eager = true)
    }

  /** The md5 near-dup pair frame at the 0.8 production threshold — eight
    * neardup_* analytics faces previously each re-ran the full
    * shingle/signature/banding chain per query per bench pass
    * (optimization r15). Ids + jaccard only, scale-safe to pin.
    * Threshold is the FINAL jaccard filter of minhashMd5Pairs (banding
    * and verification are threshold-independent), so the 0.8 frame is a
    * pure filter over the memoized threshold-0 frame — one banding build
    * serves the whole md5 pair family.
    */
  private[registry] def sharedMd5Pairs08(s: SparkSession, dir: String): DataFrame =
    sharedMd5PairsT0(s, dir).filter(col("jaccard") >= 0.8)

  /** BM25 top-20 for the fixed query-term set — sliced to top-10 by
    * bm25_topk (the ordering is total: score desc, doc_id) and rank-fused
    * at k=20 by rrf_hybrid_topk; both previously re-ran the tokenize +
    * postings + scoring chain per pass.
    */
  private[registry] def sharedBm25Top20(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "bm25Top20") {
      graft.ops.Retrieval.bm25TopK(
        table(s, dir, "documents"),
        queryTerms = Seq("table", "scan", "merge", "the"), k = 20)
        .localCheckpoint(eager = true)
    }

  /** The corpus bigram LM (vocabulary-bounded) and its vocab size —
    * trained once per (session, sfDir); read by ppl_bucket_filter,
    * next_token_topk, the DoReMi reference leg, and the shared
    * self-score build below.
    */
  private[registry] def sharedBigramLm(s: SparkSession, dir: String): (DataFrame, Long) =
    sharedState(s, dir, "bigramLm") {
      val lm = graft.ops.LanguageModel.bigramLm(table(s, dir, "documents"))
        .localCheckpoint(eager = true)
      (lm, lm.select(col("w2")).distinct().count())
    }

  /** The bigram-LM self-score frame at the registered gate — read by
    * lm_doc_scores, quality_signal_spearman, and quality_rank_fusion
    * (each previously re-built the LM and re-scored the corpus per pass).
    */
  private[registry] def sharedLmSelfScore(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "lmSelfScore") {
      val (lm, v) = sharedBigramLm(s, dir)
      graft.ops.LanguageModel.selfScoreFrom(
        table(s, dir, "documents"), lm, v, minAvgLpMicro = -3600000L)
    }

  /** The min-label connected components over [[sharedMd5Pairs08]] — the
    * clustering is an iterative propagation loop, previously re-run by
    * five faces (clusters, diameter, modularity, both corpus faces).
    */
  private[registry] def sharedMd5Clusters08(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "md5Clusters08") {
      Dedup.nearDupClusters(sharedMd5Pairs08(s, dir)).localCheckpoint(eager = true)
    }

  /** The quoted-eval containment pair frame (train quotes an eval,
    * eval-side containment ≥ 80%) — shared by decontam_quoted_evals and
    * curation_pipeline_v9.
    */
  private[registry] def sharedQuotedEvals(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "quotedEvals") {
      val docs = table(s, dir, "documents")
      graft.ops.Dedup.quotedEvalContainment(
        docs, docs.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
        .localCheckpoint(eager = true)
    }

  /** Two-rater agreement over the 0/1 columns `a`, `b` of CTE `j`: the
    * 2x2 cell counts (CTE `cells`), Cohen's kappa numerator/denominator in
    * HUGEINT, and the final row with `agree_bps` and round-half-up
    * `kappa_micro` — mirrors [[graft.ops.Contingency.agreementKappa]].
    */
  private[registry] def agreementKappaTail(cells: String, a: String, b: String): String =
    s"""$cells AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(CASE WHEN $a = 1 AND $b = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n11,
      |    CAST(sum(CASE WHEN $a = 1 AND $b = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n10,
      |    CAST(sum(CASE WHEN $a = 0 AND $b = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n01,
      |    CAST(sum(CASE WHEN $a = 0 AND $b = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n00
      |  FROM j
      |), q AS (
      |  SELECT n, n11, n10, n01, n00,
      |    n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)) AS knum,
      |    n * n - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)) AS kden
      |  FROM $cells
      |)
      |SELECT CAST(n AS BIGINT) AS n_docs, CAST(n11 AS BIGINT) AS n_both_keep,
      |  CAST(n10 AS BIGINT) AS n_a_only, CAST(n01 AS BIGINT) AS n_b_only,
      |  CAST(n00 AS BIGINT) AS n_both_drop,
      |  CAST((20000 * (n11 + n00) + n) // (2 * n) AS BIGINT) AS agree_bps,
      |  CAST(CASE WHEN kden > 0 THEN (2000000 * knum + kden
      |    - (((2000000 * knum + kden) % (2 * kden)) + 2 * kden) % (2 * kden)) // (2 * kden)
      |    END AS BIGINT) AS kappa_micro
      |FROM q""".stripMargin

  /** Distinct word 3-shingles `grams(doc_id, g)` of the `w` token lists
    * in `src`.
    */
  private[registry] def shingle3Cte(src: String): String =
    s"""grams AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 3
      |      THEN list_distinct(list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |      ELSE [] END AS g
      |  FROM $src""".stripMargin

  /** The signature prefix of the md5 chain (shingles → md5 → MinHash →
    * band keys), shared by the symmetric pair pipeline and the delta
    * (batch-vs-index) probe.
    */
  private[registry] val Md5SigCtes: String =
    s"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
      |), ${shingle3Cte("toks")}
      |), ex AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(t.gram), 1, 8)) AS BIGINT) AS h
      |  FROM grams, unnest(grams.g) AS t(gram)
      |), hs AS (
      |  SELECT doc_id, list_distinct(list(h)) AS hset FROM ex GROUP BY doc_id
      |), sig AS (
      |  SELECT doc_id, j.j AS j,
      |    min(((((2654435761 * (j.j+1)) % 2147483647) | 1) * (h % 2147483647)
      |      + ((40503 * (j.j+1) * (j.j+1)) % 2147483647)) % 2147483647) AS m
      |  FROM ex, range(64) j(j) GROUP BY 1, 2
      |), bandkey AS (
      |  SELECT doc_id, j // 4 AS band, string_agg(CAST(m AS VARCHAR), '-' ORDER BY j) AS bk
      |  FROM sig GROUP BY doc_id, j // 4
      |)""".stripMargin

  /** Shared oracle CTE chain for the md5-anchored near-dup pipeline: 3-gram
    * shingles → one md5 per shingle → 64-member affine MinHash signatures →
    * 16 band keys → bucket-capped candidate pairs → exact-Jaccard verify
    * over the distinct md5 shingle-hash sets. Mirrors
    * [[graft.ops.Dedup.minhashMd5Pairs]] stage for stage (same constants:
    * affine family, 2^61-1 modulus, maxBucket 1000).
    */
  private[registry] val Md5NearDupCtes: String =
    s"""$Md5SigCtes, bucket_ok AS (
      |  SELECT band, bk FROM bandkey GROUP BY band, bk HAVING count(*) BETWEEN 2 AND 1000
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bucket_ok o
      |  JOIN bandkey a ON a.band = o.band AND a.bk = o.bk
      |  JOIN bandkey b ON b.band = o.band AND b.bk = o.bk AND a.doc_id < b.doc_id
      |), pj AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(ha.hset, x -> list_contains(hb.hset, x))) AS DOUBLE)
      |      / len(list_distinct(list_concat(ha.hset, hb.hset))) AS jaccard
      |  FROM cand JOIN hs ha ON ha.doc_id = cand.id_a JOIN hs hb ON hb.doc_id = cand.id_b
      |)""".stripMargin

  /** Connected components over the verified pairs at threshold 0.8 — a
    * recursive-CTE transitive closure: every component label reaches every
    * member through the symmetric edge set, so min(label) per node is the
    * component minimum (the same contract as
    * [[graft.ops.Dedup.nearDupClusters]]).
    */
  private[registry] val Md5ClusterCtes: String =
    """good AS MATERIALIZED (
      |  SELECT id_a, id_b FROM pj WHERE jaccard >= 0.8
      |), edges AS MATERIALIZED (
      |  SELECT id_a AS src, id_b AS dst FROM good UNION SELECT id_b, id_a FROM good
      |), nodes AS (
      |  SELECT DISTINCT src AS id FROM edges
      |), reach AS (
      |  SELECT id, id AS lab FROM nodes
      |  UNION
      |  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
      |)""".stripMargin

  /** Shared CTEs reproducing [[graft.ops.TextAnalysis.qualityLogit]]:
    * `f(doc_id, n_chars, n_tokens, n_punct, n_stop, n_distinct)` the cheap
    * per-document features, `scored(doc_id, logit_micro)` the fixed-order
    * double logit in integer micro-units.
    */
  private[registry] val QualityLogitCtes: String =
    """f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS INT) AS n_chars,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
      |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['the','and','of','to','in','is'], t))) AS INT) AS n_stop,
      |    CAST(len(list_distinct(string_split_regex(lower(text), '\s+'))) AS INT) AS n_distinct
      |  FROM documents
      |), scored AS (
      |  SELECT doc_id,
      |    CAST(floor((
      |      -1.5
      |      + (least(n_tokens, 200) / 200.0) * 2.0
      |      + (n_stop * 4.0 / greatest(n_tokens, 1)) * 3.0
      |      + (n_punct * 10.0 / greatest(n_chars, 1)) * -4.0
      |      + (n_distinct / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 1.5
      |    ) * 1000000.0 + 0.5) AS BIGINT) AS logit_micro
      |  FROM f
      |)""".stripMargin

  /** Deterministic-anchor IVF directed top-5 over the full embeddings
    * corpus + the mutuality join — shared by mutual_nn_ivf,
    * semdedup_mutual_flags, and semdedup_v1_v2_agreement. Exposes `vecs`,
    * `assign` (anchor buckets), and `mut` (reciprocal pairs, id_a < id_b).
    */
  private[registry] val MutualIvfCtes: String = mutualIvfCtes("")

  /** Same chain with an extra corpus predicate (e.g. the deterministic
    * sample the recall row evaluates on) and a CTE-name prefix so two
    * instantiations can coexist in one statement.
    */
  private[registry] def mutualIvfCtes(extraWhere: String, p: String = ""): String =
    s"""${p}vecs AS (
      |${qvVecsSelect("vec_id, CAST(embedding AS DOUBLE[]) AS v", extraWhere)}
      |), ${p}anchors AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ai, qv AS av
      |  FROM ${p}vecs ORDER BY vec_id LIMIT 16
      |), ${p}dists AS (
      |  SELECT v.vec_id, a.ai,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (v.qv[i] - a.av[i]) * (v.qv[i] - a.av[i]))) AS d2
      |  FROM ${p}vecs v, ${p}anchors a
      |), ${p}assign AS (
      |  SELECT vec_id, ai AS bucket,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, ai) AS rk
      |  FROM ${p}dists
      |), ${p}cbuck AS (SELECT vec_id AS neighbor_id, bucket FROM ${p}assign WHERE rk = 1),
      |${p}qbuck AS (SELECT vec_id AS query_id, bucket FROM ${p}assign WHERE rk <= 4),
      |${p}cand AS (
      |  SELECT DISTINCT query_id, neighbor_id
      |  FROM ${p}qbuck JOIN ${p}cbuck USING (bucket) WHERE query_id != neighbor_id
      |), ${p}scored AS (
      |  SELECT ${p}cand.query_id, ${p}cand.neighbor_id,
      |    round(list_cosine_similarity(qv.v, cv.v), 6) AS cos_sim
      |  FROM ${p}cand JOIN ${p}vecs qv ON qv.vec_id = ${p}cand.query_id
      |            JOIN ${p}vecs cv ON cv.vec_id = ${p}cand.neighbor_id
      |), ${p}ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      |  FROM ${p}scored
      |), ${p}t AS (SELECT * FROM ${p}ranked WHERE rank <= 5),
      |${p}mut AS (
      |  SELECT x.query_id AS id_a, x.neighbor_id AS id_b, x.cos_sim AS cos_sim,
      |    x.rank AS rank_ab, y.rank AS rank_ba
      |  FROM ${p}t x JOIN ${p}t y ON x.query_id = y.neighbor_id AND x.neighbor_id = y.query_id
      |    AND x.query_id < x.neighbor_id
      |)""".stripMargin

  /** The 64-dim vector projection with its micro-unit quantization `qv`
    * (`cols` first, extra filter `where` appended to the length guard).
    */
  private[registry] def qvVecsSelect(cols: String, where: String): String =
    s"""  SELECT $cols,
      |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x*1000000.0 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings WHERE len(embedding) = 64$where""".stripMargin

  /** Anchor-IVF assignment: the first 16 vectors of `${p}vecs` (quantized
    * column `q`, row alias `v`) as anchors, squared distances to each in
    * `${p}dists`, the distance rank per vector in `${p}assign`.
    */
  private[registry] def anchorAssignCtes(p: String, q: String, v: String): String =
    s"""anchors AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ai, $q AS av
      |  FROM ${p}vecs ORDER BY vec_id LIMIT 16
      |), ${p}dists AS (
      |  SELECT $v.vec_id, a.ai,
      |    list_sum(list_transform(range(1, 65),
      |      i -> ($v.$q[i] - a.av[i]) * ($v.$q[i] - a.av[i]))) AS d2
      |  FROM ${p}vecs $v, anchors a
      |), ${p}assign AS (
      |  SELECT vec_id, ai AS bucket,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, ai) AS rk
      |  FROM ${p}dists""".stripMargin

  /** Gopher per-document statistics as CTE `toks` (columns `cols`, then
    * the counts) over `src`, followed by the top-2-gram and duplicated
    * 5-gram character counts `top2` / `dup5`.
    */
  private[registry] def gopherStatCtes(toks: String, cols: String, src: String): String =
    s"""$toks AS (
      |  SELECT $cols,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS word_chars,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
      |      x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS stop_hits,
      |    string_split_regex(lower(text), '\\s+') AS t
      |  FROM $src
      |), g2 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i+1])) AS g
      |  FROM $toks WHERE len(t) >= 2
      |), top2 AS (
      |  SELECT doc_id, max(cnt * length(g)) AS top2_chars
      |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2) GROUP BY 1
      |), g5 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g
      |  FROM $toks WHERE len(t) >= 5
      |), dup5 AS (
      |  SELECT doc_id, sum(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END) AS dup5_chars
      |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2) GROUP BY 1""".stripMargin

  /** Lower-cased whitespace tokens `toks(doc_id, t)` of every document. */
  private[registry] val WsToksCte: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents""".stripMargin

  /** Add-one-smoothed bigram LM over [[WsToksCte]]: bigrams `bg`, counts
    * `bc`, context totals `lm`, vocabulary size `v`, and the per-bigram
    * micro log-probability `scored(doc_id, lp)`.
    */
  private[registry] val BigramLmCtes: String =
    s"""$WsToksCte
      |), bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      |  FROM toks, unnest(range(1, len(t))) AS u(i)
      |  WHERE len(t) >= 2
      |), bc AS (
      |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2
      |), lm AS (
      |  SELECT w1, w2, c2, sum(c2) OVER (PARTITION BY w1) AS ctx FROM bc
      |), v AS (SELECT count(DISTINCT w2) AS v FROM bc),
      |scored AS (
      |  SELECT bg.doc_id,
      |    CAST(floor(ln((CAST(lm.c2 AS DOUBLE) + 1.0e0)
      |        / (CAST(lm.ctx AS DOUBLE) + CAST(v.v AS DOUBLE)))
      |      * 1e6 + 0.5e0) AS BIGINT) AS lp
      |  FROM bg JOIN lm USING (w1, w2), v""".stripMargin

  /** Shared CTEs reproducing [[graft.ops.TextAnalysis.gopherRules]]:
    * `gop(doc_id, n_chars, n_tokens, word_chars, stop_hits, top2_chars,
    * dup5_chars, mean_word_len, top2_share, dup5_share, keep)` — the full
    * Gopher gate output, reused by `gopher_rules` and the gate-agreement
    * queries.
    */
  private[registry] val GopherRulesCtes: String =
    s"""${gopherStatCtes("toks", "doc_id", "documents")}
      |), joined AS (
      |  SELECT toks.doc_id, n_chars, n_tokens, word_chars, stop_hits,
      |    CAST(COALESCE(top2_chars, 0) AS BIGINT) AS top2_chars,
      |    CAST(COALESCE(dup5_chars, 0) AS BIGINT) AS dup5_chars,
      |    round(CAST(word_chars AS DOUBLE) / greatest(n_tokens, 1), 4) AS mean_word_len,
      |    round(CAST(COALESCE(top2_chars, 0) AS DOUBLE) / greatest(n_chars, 1), 4) AS top2_share,
      |    round(CAST(COALESCE(dup5_chars, 0) AS DOUBLE) / greatest(n_chars, 1), 4) AS dup5_share
      |  FROM toks LEFT JOIN top2 ON toks.doc_id = top2.doc_id
      |             LEFT JOIN dup5 ON toks.doc_id = dup5.doc_id
      |), gop AS (
      |  SELECT doc_id, n_chars, n_tokens, word_chars, stop_hits, top2_chars, dup5_chars,
      |    mean_word_len, top2_share, dup5_share,
      |    CAST(CASE WHEN n_tokens BETWEEN 10 AND 100000
      |           AND mean_word_len BETWEEN 2.0 AND 12.0
      |           AND top2_share < 0.30
      |           AND dup5_share < 0.15
      |           AND stop_hits >= 2 THEN 1 ELSE 0 END AS INT) AS keep
      |  FROM joined
      |)""".stripMargin

  /** Unrolled eight-step power iteration mirroring
    * [[graft.ops.Similarity.topPrincipalComponent]]: exact integer scatter
    * numerator, all-ones micro start, max-|component| renormalization with
    * a sign-safe round-half-up division per entry.
    *
    * The scatter-matrix + PC1 power-iteration CTE chain (through `v8`),
    * parameterized by the quantization scale so the anisotropy oracle can
    * run the same replay at its own (overflow-headroom) scale.
    */
  private[registry] def embeddingPcCtes(scale: Long): String = {
    val base =
      s"""WITH ex AS MATERIALIZED (
        |  SELECT vec_id, i.i AS i,
        |    CAST(round(CAST(embedding[i.i + 1] AS DOUBLE) * $scale) AS HUGEINT) AS q
        |  FROM embeddings, range(64) i(i)
        |), nn AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM ex),
        |s AS MATERIALIZED (SELECT i, sum(q) AS s FROM ex GROUP BY 1),
        |c AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j, sum(a.q * b.q) AS c
        |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2
        |), am AS MATERIALIZED (
        |  SELECT c.i, c.j, nn.n * c.c - sa.s * sb.s AS a
        |  FROM c CROSS JOIN nn
        |  JOIN s sa ON sa.i = c.i JOIN s sb ON sb.i = c.j
        |), v0 AS MATERIALIZED (
        |  SELECT i.i AS j, CAST(1000000 AS HUGEINT) AS v FROM range(64) i(i))""".stripMargin
    val steps = (1 to 8).map { k =>
      val p = s"v${k - 1}"
      s""",
         |w$k AS MATERIALIZED (
         |  SELECT am.j AS j, sum(am.a * $p.v) AS w
         |  FROM am JOIN $p ON $p.j = am.i GROUP BY 1
         |), m$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS MATERIALIZED (
         |  SELECT w$k.j, CASE WHEN m > 0 THEN
         |    (w * 2000000 + m - ((((w * 2000000 + m) % (2 * m)) + 2 * m) % (2 * m))) // (2 * m)
         |    ELSE pv.v END AS v
         |  FROM w$k JOIN $p pv ON pv.j = w$k.j CROSS JOIN m$k
         |)""".stripMargin
    }.mkString
    base + steps
  }

  /** Containment-pair chain through `contp(id_a, id_b, n_a, n_b,
    * n_common, cont_a_in_b_bps, cont_b_in_a_bps)` at the given threshold
    * — pigeonhole prefix filter + exact verify, mirroring
    * [[graft.ops.Dedup.containmentMd5Pairs]]. Expects [[Md5SigCtes]]'
    * `hs` in scope.
    */
  private[registry] def containmentCtes(
      thresholdBps: Long, src: String = "hs", sfx: String = ""): String =
    s"""post$sfx AS MATERIALIZED (
      |  SELECT doc_id, unnest(hset) AS h FROM $src
      |), dfc$sfx AS MATERIALIZED (
      |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM post$sfx GROUP BY h HAVING count(*) <= 1000
      |), szs$sfx AS (SELECT doc_id, CAST(len(hset) AS BIGINT) AS n FROM $src),
      |rkd$sfx AS (
      |  SELECT p.doc_id, p.h,
      |    row_number() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.h) AS rk
      |  FROM post$sfx p JOIN dfc$sfx d ON d.h = p.h
      |), pre$sfx AS (
      |  SELECT r.doc_id AS probe_id, r.h
      |  FROM rkd$sfx r JOIN szs$sfx s ON s.doc_id = r.doc_id
      |  WHERE r.rk <= (2 * (10000 - $thresholdBps) + 1) * s.n // 20000 + 1
      |), cand$sfx AS MATERIALIZED (
      |  SELECT DISTINCT least(p.probe_id, o.doc_id) AS id_a,
      |    greatest(p.probe_id, o.doc_id) AS id_b
      |  FROM pre$sfx p JOIN post$sfx o ON o.h = p.h
      |  WHERE p.probe_id != o.doc_id
      |), verc$sfx AS (
      |  SELECT c.id_a, c.id_b,
      |    CAST(len(a.hset) AS BIGINT) AS n_a, CAST(len(b.hset) AS BIGINT) AS n_b,
      |    CAST(len(list_filter(a.hset, x -> list_contains(b.hset, x))) AS BIGINT) AS n_common
      |  FROM cand$sfx c JOIN $src a ON a.doc_id = c.id_a JOIN $src b ON b.doc_id = c.id_b
      |), contp$sfx AS MATERIALIZED (
      |  SELECT id_a, id_b, n_a, n_b, n_common,
      |    (2*10000*n_common + n_a) // (2*n_a) AS cont_a_in_b_bps,
      |    (2*10000*n_common + n_b) // (2*n_b) AS cont_b_in_a_bps
      |  FROM verc$sfx
      |  WHERE greatest((2*10000*n_common + n_a) // (2*n_a),
      |                 (2*10000*n_common + n_b) // (2*n_b)) >= $thresholdBps
      |)""".stripMargin

  /** Shared CTEs reproducing [[graft.ops.Clustering.kmeansAssign]] with
    * k=8, iters=2, scale=10⁴: `ex(vec_id, i, v)` the quantized exploded
    * vectors, `c0` the lowest-8-id seed centroids, then two unrolled
    * assign/update rounds — `a1` (assignment vs c0), `c1` (floor-of-mean
    * centroids over a1), `a2` (final assignment vs c1). Argmin tie-breaks
    * on the lower centroid id, exactly the Spark side's (dist, cid) struct
    * min.
    */
  private[registry] val KmeansCtes: String =
    """WITH ex AS (
      |  SELECT vec_id, unnest(range(len(embedding))) AS i,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS v
      |  FROM embeddings
      |), c0 AS (
      |  SELECT CAST(vec_id AS INT) AS cid, i, v FROM ex WHERE vec_id < 8
      |), d1 AS (
      |  SELECT e.vec_id, c.cid, sum((e.v - c.v) * (e.v - c.v)) AS d
      |  FROM ex e JOIN c0 c ON e.i = c.i GROUP BY 1, 2
      |), a1 AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM d1)
      |  WHERE rn = 1
      |), c1 AS (
      |  SELECT a.cluster AS cid, e.i, CAST(floor(sum(e.v) * 1.0 / count(*)) AS BIGINT) AS v
      |  FROM ex e JOIN a1 a ON e.vec_id = a.vec_id GROUP BY 1, 2
      |), d2 AS (
      |  SELECT e.vec_id, c.cid, sum((e.v - c.v) * (e.v - c.v)) AS d
      |  FROM ex e JOIN c1 c ON e.i = c.i GROUP BY 1, 2
      |), a2 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cid AS cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM d2)
      |  WHERE rn = 1
      |)""".stripMargin

  /** The k-means‖ CTE chain alone (through `pc1` the final centroids and
    * `pd2` the distances of every vector to them) — shared by the
    * seeding-comparison oracle above and the learned-quantizer IVF
    * replay (`ann_ivf_kmpp_recall`).
    */
  private[registry] def kmeansParallelChain(rounds: Int, k: Int, ell: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""pcx$r AS (SELECT e.vec_id AS cid, e.i, e.v FROM pex e JOIN pcand${r - 1} c ON c.cid = e.vec_id),
         |pdd$r AS MATERIALIZED (
         |  SELECT t.vec_id, min(t.dd) AS cost FROM (
         |    SELECT e.vec_id, cx.cid, sum((e.v - cx.v) * (e.v - cx.v)) AS dd
         |    FROM pex e JOIN pcx$r cx ON cx.i = e.i GROUP BY 1, 2) t
         |  GROUP BY 1
         |), pphi$r AS (SELECT CAST(sum(cost) AS BIGINT) AS phi FROM pdd$r),
         |psel$r AS (
         |  SELECT d.vec_id AS cid FROM pdd$r d, pphi$r p
         |  WHERE CAST(CAST(('0x' || substr(md5('kmpp$r-' || CAST(d.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT) * p.phi
         |      < CAST($ell AS HUGEINT) * d.cost * 4294967296
         |), pcand$r AS MATERIALIZED (SELECT cid FROM pcand${r - 1} UNION SELECT cid FROM psel$r)""".stripMargin
    }.mkString(",\n")
    val greedySteps = (2 to k).map { i =>
      s"""pg$i AS (
         |  SELECT t.ca AS cid FROM (
         |    SELECT cd.ca, pw.w * min(cd.d) AS score
         |    FROM pcd cd JOIN pch${i - 1} ch ON cd.cb = ch.cid
         |    JOIN pw ON pw.cid = cd.ca
         |    WHERE cd.ca NOT IN (SELECT cid FROM pch${i - 1})
         |    GROUP BY cd.ca, pw.w) t
         |  ORDER BY t.score DESC, t.ca ASC LIMIT 1
         |), pch$i AS MATERIALIZED (SELECT * FROM pch${i - 1} UNION ALL SELECT cid, ${i - 1} FROM pg$i)""".stripMargin
    }.mkString(",\n")
    s"""$KmeansCtes,
       |pex AS MATERIALIZED (SELECT vec_id, i, v FROM ex),
       |pcand0 AS (SELECT min(vec_id) AS cid FROM embeddings),
       |$roundCtes,
       |pcxw AS MATERIALIZED (SELECT e.vec_id AS cid, e.i, e.v FROM pex e JOIN pcand$rounds c ON c.cid = e.vec_id),
       |pwa AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT t.vec_id, t.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY t.dd, t.cid) AS rn
       |    FROM (
       |      SELECT e.vec_id, cx.cid, sum((e.v - cx.v) * (e.v - cx.v)) AS dd
       |      FROM pex e JOIN pcxw cx ON cx.i = e.i GROUP BY 1, 2) t) s
       |  WHERE rn = 1
       |), pw AS MATERIALIZED (
       |  SELECT c.cid, CAST(COALESCE(w.n, 0) AS BIGINT) AS w
       |  FROM pcand$rounds c LEFT JOIN (SELECT cid, count(*) AS n FROM pwa GROUP BY 1) w ON w.cid = c.cid
       |), pcd AS MATERIALIZED (
       |  SELECT xa.cid AS ca, xb.cid AS cb, sum((xa.v - xb.v) * (xa.v - xb.v)) AS d
       |  FROM pcxw xa JOIN pcxw xb ON xb.i = xa.i GROUP BY 1, 2
       |),
       |pg1 AS (SELECT cid FROM pw ORDER BY w DESC, cid ASC LIMIT 1),
       |pch1 AS MATERIALIZED (SELECT cid, 0 AS ord FROM pg1),
       |$greedySteps,
       |pseed AS MATERIALIZED (SELECT ch.ord AS cid, e.i, e.v FROM pch$k ch JOIN pex e ON e.vec_id = ch.cid),
       |pd1 AS MATERIALIZED (
       |  SELECT e.vec_id, c.cid, sum((e.v - c.v) * (e.v - c.v)) AS d
       |  FROM pex e JOIN pseed c ON c.i = e.i GROUP BY 1, 2
       |), pa1 AS MATERIALIZED (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM pd1) s
       |  WHERE rn = 1
       |), pc1 AS MATERIALIZED (
       |  SELECT a.cluster AS cid, e.i, CAST(floor(sum(e.v) * 1.0 / count(*)) AS BIGINT) AS v
       |  FROM pex e JOIN pa1 a ON e.vec_id = a.vec_id GROUP BY 1, 2
       |), pd2 AS MATERIALIZED (
       |  SELECT e.vec_id, c.cid, sum((e.v - c.v) * (e.v - c.v)) AS d
       |  FROM pex e JOIN pc1 c ON e.i = c.i GROUP BY 1, 2
       |)""".stripMargin
  }

  /** BM25 inputs over the documents of `src`: token lists and lengths
    * `dl`, corpus size and total length `stats`, per-document term
    * frequency `tf` and document frequency `dfreq` of the four query
    * terms.
    */
  private[registry] def bm25TermCtes(src: String): String =
    s"""dl AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS dl,
      |    string_split_regex(lower(text), '\\s+') AS toks
      |  FROM $src
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl
      |), tf AS (
      |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
      |  WHERE tok IN ('table', 'scan', 'merge', 'the')
      |  GROUP BY 1, 2, 3
      |), dfreq AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1""".stripMargin

  /** Replay oracle for the trained quality filter: the same exact
    * fixed-point GD loop QualityTrainer runs, unrolled as `iters` chained
    * CTE steps. Weight updates use round-half-up integer division written
    * as floor((2g + D)/(2D)) with the posmod adjustment (DuckDB `//`
    * truncates); gradients accumulate in HUGEINT.
    *
    * One GD training chain over `feat` rows satisfying `where`, with every
    * state CTE name carrying `sfx` — so several independently-trained
    * models (CV folds) can coexist in one oracle query. `sfx = ""` and
    * `where = "TRUE"` reproduce the original single-model chain verbatim
    * (CTE names nn, w0_, e1, gr1, w1_, …).
    */
  private[registry] def qualityGdChain(
      iters: Int, sfx: String, where: String, zeroJ: Option[Int] = None): String = {
    // Every w<t>_ CTE is referenced TWICE by step t+1 (the error pass and
    // the weight update). DuckDB 1.0 inlines non-MATERIALIZED CTEs, so an
    // inlined chain re-expands 2^iters times — measured 109.6 s for the
    // 6-model x 8-iter source-ablation oracle at sf0.01, vs 1.5 s
    // MATERIALIZED (bit-identical rows). Keep e/gr inline (referenced once).
    val base =
      s"""nn$sfx AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n FROM feat WHERE $where),
        |w0${sfx}_ AS MATERIALIZED (SELECT CAST(0 AS HUGEINT) AS w0, CAST(0 AS HUGEINT) AS w1,
        |  CAST(0 AS HUGEINT) AS w2, CAST(0 AS HUGEINT) AS w3, CAST(0 AS HUGEINT) AS w4)""".stripMargin
    val steps = (1 to iters).map { t =>
      val prev = s"w${t - 1}${sfx}_"
      val upd = (0 to 4).map { j =>
        // delta_j = floor((2*g_j + D) / (2*D)), D = 2*n*1e6 (eta = 1/2);
        // a zeroed (ablated) weight is pinned at 0 — with w_j = 0 the
        // term w_j*x_j vanishes, so this equals training on x_j ≡ 0.
        if (zeroJ.contains(j)) s"CAST(0 AS HUGEINT) AS w$j"
        else
          s"""w.w$j - ((2*g.g$j + 2000000*nn$sfx.n) -
             |      ((((2*g.g$j + 2000000*nn$sfx.n) % (4000000*nn$sfx.n)) + 4000000*nn$sfx.n) % (4000000*nn$sfx.n)))
             |      // (4000000*nn$sfx.n) AS w$j""".stripMargin
      }.mkString(",\n    ")
      s""", e$t$sfx AS (
         |  SELECT feat.*,
         |    CAST(floor((w.w0*feat.x0 + w.w1*feat.x1 + w.w2*feat.x2 + w.w3*feat.x3 + w.w4*feat.x4)
         |      / 1000000.0) AS HUGEINT) - feat.y*1000000 AS err
         |  FROM feat, $prev w WHERE $where
         |), gr$t$sfx AS (
         |  SELECT sum(err*x0) AS g0, sum(err*x1) AS g1, sum(err*x2) AS g2,
         |    sum(err*x3) AS g3, sum(err*x4) AS g4
         |  FROM e$t$sfx
         |), w$t${sfx}_ AS MATERIALIZED (
         |  SELECT $upd
         |  FROM $prev w, gr$t$sfx g, nn$sfx
         |)""".stripMargin
    }.mkString
    base + steps
  }

  /** CTE `name`: the trained linear gate's score `p_micro` (weights `w`
    * over the five features of `feat`) with `cols` first, from `src`.
    */
  private[registry] def pMicroCte(name: String, cols: String, src: String): String =
    s"""$name AS (
      |  SELECT $cols,
      |    CAST(floor((w.w0*feat.x0 + w.w1*feat.x1 + w.w2*feat.x2 + w.w3*feat.x3 + w.w4*feat.x4)
      |      / 1000000.0) AS BIGINT) AS p_micro
      |  FROM $src""".stripMargin

  /** Shared feature-frame CTEs (Gopher teacher + cheap features). */
  private[registry] def qualityFeatCtes: String =
    s"""$GopherRulesCtes, $QualityLogitCtes, feat AS MATERIALIZED (
      |  SELECT f.doc_id,
      |    CAST(1000000 AS BIGINT) AS x0,
      |    CAST(least(f.n_tokens, 200) * 5000 AS BIGINT) AS x1,
      |    least(CAST(floor(f.n_stop * 4000000.0 / greatest(f.n_tokens, 1)) AS BIGINT), 1000000) AS x2,
      |    least(CAST(floor(f.n_punct * 10000000.0 / greatest(f.n_chars, 1)) AS BIGINT), 1000000) AS x3,
      |    CAST(floor(f.n_distinct * 1000000.0 / greatest(f.n_tokens, 1)) AS BIGINT) AS x4,
      |    CAST(g.keep AS BIGINT) AS y
      |  FROM f JOIN gop g ON g.doc_id = f.doc_id
      |)""".stripMargin

  private[registry] def qualityTrainedCtes(iters: Int): String =
    s"$qualityFeatCtes, ${qualityGdChain(iters, "", "TRUE")}"

  /** Split-conformal gate replay: the trained-scores CTEs plus the exact
    * order-statistic threshold over the calibration positives. Sentinel
    * for the k > n "no certificate" branch matches
    * [[graft.ops.QualityTrainer.InfNonconformityMicro]] (2⁶²−1).
    */
  private[registry] def qualityConformalCtes(iters: Int): String =
    s"""${qualityTrainedCtes(iters)}, ${pMicroCte("p", "feat.doc_id, feat.y", s"feat, w${iters}_ w")}
      |), calib AS (
      |  SELECT doc_id, 1000000 - p_micro AS s_micro FROM p
      |  WHERE doc_id % 5 = 0 AND y = 1
      |), kk AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    ((CAST(count(*) AS BIGINT) + 1) * 9 + 9) // 10 AS k
      |  FROM calib
      |), ranked AS (
      |  SELECT s_micro, row_number() OVER (ORDER BY s_micro ASC, doc_id ASC) AS rk
      |  FROM calib
      |), q AS (
      |  SELECT CASE WHEN kk.k > kk.n THEN CAST(4611686018427387903 AS BIGINT)
      |    ELSE (SELECT s_micro FROM ranked, kk WHERE rk = kk.k) END AS qhat
      |  FROM kk
      |)""".stripMargin

  /** Population stability terms over token counts `tc(src, tok, c_st)`:
    * per-source totals `st`, per-token totals `tt`, corpus size and
    * vocabulary `co`, the dense grid `fl`, and add-one-smoothed
    * per-cell PSI terms `terms(src, n_s, term_e5)`.
    */
  private[registry] val PsiTermCtes: String =
    """st AS (SELECT src, CAST(sum(c_st) AS BIGINT) AS n_s FROM tc GROUP BY 1),
      |tt AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM tc GROUP BY 1),
      |co AS (SELECT CAST(sum(c_st) AS BIGINT) AS n_corpus,
      |              CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tc),
      |fl AS (
      |  SELECT st.src, tt.tok, st.n_s, tt.c_t, co.n_corpus, co.v,
      |    COALESCE(tc.c_st, 0) AS c_st
      |  FROM st CROSS JOIN tt CROSS JOIN co
      |  LEFT JOIN tc ON tc.src = st.src AND tc.tok = tt.tok
      |), terms AS (
      |  SELECT src, n_s,
      |    (2 * (((c_st + 1) * (n_corpus + v)) - ((c_t + 1) * (n_s + v)))
      |       * CAST(floor(ln(CAST((c_st + 1) * (n_corpus + v) AS DOUBLE)
      |                       / CAST((c_t + 1) * (n_s + v) AS DOUBLE)) * 1e5 + 0.5e0) AS BIGINT)
      |     + (n_s + v) * (n_corpus + v))
      |    // (2 * (n_s + v) * (n_corpus + v)) AS term_e5
      |  FROM fl""".stripMargin

  /** Whole-corpus [[bm25TermCtes]] plus each (document, query term)'s
    * micro idf and the exact saturation fraction `num / den` in `scored`.
    */
  private[registry] val Bm25ScoredCtes: String =
    s"""${bm25TermCtes("documents")}
      |), scored AS (
      |  SELECT tf.doc_id,
      |    CAST(floor(ln(CAST(2*stats.n + 1 AS DOUBLE)
      |        / CAST(2*dfreq.df + 1 AS DOUBLE)) * 1.0e6 + 0.5e0) AS BIGINT) AS idf_micro,
      |    22 * stats.total_dl * tf.tf AS num,
      |    10 * stats.total_dl * tf.tf + 3 * stats.total_dl + 9 * tf.dl * stats.n AS den
      |  FROM tf JOIN dfreq USING (tok), stats""".stripMargin
}
