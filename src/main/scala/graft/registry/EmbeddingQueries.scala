package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}
import graft.registry.Shared._

/** Embedding analytics over `embeddings`: k-means and k-means‖, SemDeDup
  * and D4 curation, principal components and anisotropy, the cosine
  * similarity graph (PageRank, clustering, link prediction), LOF outliers and
  * contrastive batches.
  */
object EmbeddingQueries {

  /** The trained k=8/iters=2 Lloyd state (checkpointed assignment +
    * centroids), built ONCE per (session, sfDir) and shared by the whole
    * kmeans family — assignment face, silhouette, label-ARI, SemDeDup,
    * and both D4 faces previously re-ran the same two iterations each.
    */
  private def sharedLloyd(
      s: SparkSession, dir: String): (DataFrame, Seq[(Int, Seq[Long])]) =
    sharedState(s, dir, "lloyd_k8_i2") {
      graft.ops.Clustering.lloydState(table(s, dir, "embeddings"), k = 8, iters = 2)
    }

  /** The D4 verdict frame off [[sharedLloyd]], checkpointed once — the
    * flags face and the census face read the same build.
    */
  private def sharedD4Flags(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "d4Flags") {
      val (asg, cents) = sharedLloyd(s, dir)
      graft.ops.Clustering.d4PruneFrom(asg, cents).localCheckpoint(eager = true)
    }

  /** The threshold-independent SemDeDup v1 core — one bucket pair join
    * serves the 0.35 flags face AND every threshold-sweep leg
    * (optimization r16).
    */
  private def sharedSemCore(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    sharedState(s, dir, "semDedupCore16") {
      Similarity.semDedupCore(table(s, dir, "embeddings"))
    }

  /** SemDeDup v1 flags at the registered 0.35 threshold — read by
    * semdedup_flags, semdedup_v1_v2_agreement, and
    * text_vs_semantic_dedup_kappa.
    */
  private def sharedSemDedupV1(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "semDedupV1_035") {
      val (buckets, best) = sharedSemCore(s, dir)
      Similarity.semDedupFromCore(buckets, best, threshold = 0.35)
        .localCheckpoint(eager = true)
    }

  /** SemDeDup v2 (mutual-confidence) flags at 0.35, off the shared IVF
    * top-5 leg — read by semdedup_mutual_flags, semdedup_corpus_v2, and
    * semdedup_v1_v2_agreement.
    */
  private def sharedSemDedupMutual(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "semDedupMutual035") {
      Similarity.semDedupMutualFrom(
        table(s, dir, "embeddings"), sharedIvfTopk5(s, dir), threshold = 0.35)
        .localCheckpoint(eager = true)
    }

  /** The exact cosine near-dup edge list over the 1-in-10 embedding
    * sample at threshold 0.2 — the graph-analytics trio (triangles,
    * assortativity, link prediction) each re-derived it per pass.
    */
  private def sharedCosPairs02(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "cosPairs02") {
      val emb = table(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      Similarity.cosineNearDupPairs(emb, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(eager = true)
    }

  /** The cosine >= 0.2 similarity graph `e(a, b)` (a < b) over every
    * tenth embedding `e0`.
    */
  private val SimGraphCtes: String =
    """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |            FROM embeddings WHERE vec_id % 10 = 0),
      |e AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.2""".stripMargin

  /** LOF replay over a `d(qa, nb, dm)` directed micro-distance CTE,
    * mirroring [[graft.ops.Similarity.lofFromDirected]]'s three
    * joins/aggregations exactly (k-distance → reachability/lrd → LOF),
    * round-half-up floor-div throughout.
    */
  private val LofChainCtes: String =
    """kd AS (
      |  SELECT qa AS pid, max(dm) AS kdist_micro, CAST(count(*) AS BIGINT) AS n_nb
      |  FROM d GROUP BY 1
      |), lr AS (
      |  SELECT d.qa AS pid, sum(greatest(d.dm, k2.kdist_micro)) AS sum_reach,
      |    CAST(count(*) AS BIGINT) AS n_reach
      |  FROM d JOIN kd k2 ON k2.pid = d.nb GROUP BY 1
      |), lrd AS (
      |  SELECT kd.pid, kd.kdist_micro, kd.n_nb,
      |    (lr.n_reach * 2000000000000 + greatest(lr.sum_reach, 1))
      |      // (2 * greatest(lr.sum_reach, 1)) AS lrd_micro
      |  FROM kd JOIN lr ON lr.pid = kd.pid
      |), lofs AS (
      |  SELECT d.qa AS pid, sum(l2.lrd_micro) AS sum_nb_lrd,
      |    CAST(count(*) AS BIGINT) AS n_lof
      |  FROM d JOIN lrd l2 ON l2.pid = d.nb GROUP BY 1
      |)""".stripMargin

  private val LofChainSelect: String =
    """SELECT l.pid AS vec_id, CAST(l.kdist_micro AS BIGINT) AS kdist_micro,
      |  l.n_nb, CAST(l.lrd_micro AS BIGINT) AS lrd_micro,
      |  CAST((f.sum_nb_lrd * 2000 + f.n_lof * l.lrd_micro)
      |    // (2 * f.n_lof * l.lrd_micro) AS BIGINT) AS lof_milli
      |FROM lrd l JOIN lofs f ON f.pid = l.pid""".stripMargin

  private val EmbeddingTopPcOracle: String =
    embeddingPcCtes(10000) +
      "\nSELECT CAST(j AS INT) AS dim, CAST(v AS BIGINT) AS pc_micro FROM v8"

  /** Two-component extension of [[EmbeddingTopPcOracle]]: replays the PC1
    * power iteration verbatim (CTEs v1..v8), then the PC2 loop with
    * division-free deflation — per step: matvec (uw), normalize (uh),
    * project out v8 scaled by ‖v8‖² (ud, via the shared nv1/per-step dt
    * sums), renormalize (u). Mirrors
    * [[graft.ops.Similarity.topTwoPrincipalComponents]] step for step.
    */
  private def srExpr(w: String, m: String): String =
    s"($w * 2000000 + $m - (((($w * 2000000 + $m) % (2 * $m)) + 2 * $m) % (2 * $m))) // (2 * $m)"

  /** PC2 deflation chain (nv1/u0 .. u8) — scale-independent: operates on
    * the `am`/`v8` CTEs of whichever [[embeddingPcCtes]] instantiation
    * precedes it.
    */
  private val EmbeddingPc2Ctes: String = {
    val pc2Base =
      """,
        |nv1 AS MATERIALIZED (SELECT sum(v * v) AS s FROM v8),
        |u0 AS MATERIALIZED (
        |  SELECT i.i AS j, CAST(1000000 AS HUGEINT) AS v FROM range(64) i(i))""".stripMargin
    val pc2Steps = (1 to 8).map { k =>
      val p = s"u${k - 1}"
      s""",
         |uw$k AS MATERIALIZED (
         |  SELECT am.j AS j, sum(am.a * $p.v) AS w
         |  FROM am JOIN $p ON $p.j = am.i GROUP BY 1
         |), um$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM uw$k),
         |uh$k AS MATERIALIZED (
         |  SELECT uw$k.j, CASE WHEN m > 0 THEN ${srExpr("w", "m")}
         |    ELSE pv.v END AS v
         |  FROM uw$k JOIN $p pv ON pv.j = uw$k.j CROSS JOIN um$k
         |), dt$k AS MATERIALIZED (
         |  SELECT sum(uh$k.v * v8.v) AS s FROM uh$k JOIN v8 ON v8.j = uh$k.j
         |), ud$k AS MATERIALIZED (
         |  SELECT uh$k.j, uh$k.v * nv1.s - dt$k.s * v8.v AS w
         |  FROM uh$k JOIN v8 ON v8.j = uh$k.j CROSS JOIN nv1 CROSS JOIN dt$k
         |), udm$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM ud$k),
         |u$k AS MATERIALIZED (
         |  SELECT ud$k.j, CASE WHEN m > 0 THEN ${srExpr("w", "m")}
         |    ELSE uh.v END AS v
         |  FROM ud$k JOIN uh$k uh ON uh.j = ud$k.j CROSS JOIN udm$k
         |)""".stripMargin
    }.mkString
    pc2Base + pc2Steps
  }

  private val EmbeddingTop2PcsOracle: String =
    embeddingPcCtes(10000) + EmbeddingPc2Ctes +
      """
        |SELECT CAST(1 AS INT) AS component, CAST(j AS INT) AS dim, CAST(v AS BIGINT) AS pc_micro FROM v8
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(j AS INT), CAST(v AS BIGINT) FROM u8""".stripMargin

  /** Replays [[graft.ops.Similarity.embeddingAnisotropy]]: the PC chain at
    * scale 1000 (overflow headroom for the squared projection sums), then
    * division-free centering (c = n·q − Σq), per-vector dots with both
    * micro PCs, and the round-half-up bps shares of centered variance.
    */
  private val EmbeddingAnisotropyOracle: String =
    embeddingPcCtes(1000) + EmbeddingPc2Ctes +
      """,
        |cvec AS MATERIALIZED (
        |  SELECT ex.vec_id, ex.i, nn.n * ex.q - s.s AS cq
        |  FROM ex JOIN s ON s.i = ex.i CROSS JOIN nn
        |), dots AS (
        |  SELECT cvec.vec_id,
        |    sum(cvec.cq * p1.v) AS d1,
        |    sum(cvec.cq * p2.v) AS d2,
        |    sum(cvec.cq * cvec.cq) AS cn2
        |  FROM cvec JOIN v8 p1 ON p1.j = cvec.i JOIN u8 p2 ON p2.j = cvec.i
        |  GROUP BY 1
        |), tot AS (SELECT sum(d1*d1) AS a1, sum(d2*d2) AS a2, sum(cn2) AS c FROM dots),
        |nv AS (SELECT (SELECT sum(v*v) FROM v8) AS b1, (SELECT sum(v*v) FROM u8) AS b2)
        |SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_vectors,
        |  CAST(CASE WHEN b1 > 0 AND c > 0
        |    THEN (20000*a1 + b1*c) // (2*b1*c) ELSE 0 END AS BIGINT) AS share_pc1_bps,
        |  CAST(CASE WHEN b2 > 0 AND c > 0
        |    THEN (20000*a2 + b2*c) // (2*b2*c) ELSE 0 END AS BIGINT) AS share_pc2_bps
        |FROM tot CROSS JOIN nv""".stripMargin

  /** Full k-means|| replay ([[graft.ops.Clustering.parallelInitSeeds]] +
    * [[graft.ops.Clustering.kmeansParallelInit]]): three derandomized
    * oversampling rounds (the md5-race Bernoulli on HUGEINT, mirroring
    * the Scala DECIMAL(38,0) comparison), pool weights by argmin cell,
    * the unrolled greedy weighted-farthest-point reduction to k = 8
    * seeds, then the same two Lloyd assignment rounds [[KmeansCtes]]
    * unrolls — next to the naive-seed chain it extends. Emits the
    * two-method comparison row set.
    */
  private def kmeansParallelOracle(rounds: Int = 3, k: Int = 8, ell: Int = 16): String =
    s"""${kmeansParallelChain(rounds, k, ell)}
       |SELECT 'lowest_id' AS method,
       |  (SELECT CAST(count(*) AS BIGINT) FROM c0 WHERE i = 0) AS n_candidates,
       |  (SELECT CAST(sum(m) AS BIGINT) FROM (SELECT vec_id, min(d) AS m FROM d1 GROUP BY 1) x) AS inertia_seed,
       |  (SELECT CAST(sum(m) AS BIGINT) FROM (SELECT vec_id, min(d) AS m FROM d2 GROUP BY 1) x) AS inertia_final
       |UNION ALL
       |SELECT 'parallel',
       |  (SELECT CAST(count(*) AS BIGINT) FROM pcand$rounds),
       |  (SELECT CAST(sum(m) AS BIGINT) FROM (SELECT vec_id, min(d) AS m FROM pd1 GROUP BY 1) x),
       |  (SELECT CAST(sum(m) AS BIGINT) FROM (SELECT vec_id, min(d) AS m FROM pd2 GROUP BY 1) x)""".stripMargin

  /** SemDeDup over the k-means replay: same-cluster pairs `cand`, their
    * exact integer dot products `dots`, and the cosine >= 0.2 duplicates
    * `dup(vec_id, dup_of)` (smallest earlier id).
    */
  private val SemDupCtes: String =
    s"""$KmeansCtes,
      |norms AS (SELECT vec_id, sum(v*v) AS nrm FROM ex GROUP BY 1),
      |cand AS (
      |  SELECT x.vec_id AS a, y.vec_id AS b
      |  FROM a2 x JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      |), dots AS (
      |  SELECT c.a, c.b, sum(ea.v * eb.v) AS dot
      |  FROM cand c
      |  JOIN ex ea ON ea.vec_id = c.a
      |  JOIN ex eb ON eb.vec_id = c.b AND eb.i = ea.i
      |  GROUP BY 1, 2
      |), dup AS (
      |  SELECT d.b AS vec_id, min(d.a) AS dup_of
      |  FROM dots d
      |  JOIN norms na ON na.vec_id = d.a
      |  JOIN norms nb ON nb.vec_id = d.b
      |  WHERE d.dot > 0
      |    AND CAST(d.dot AS HUGEINT) * d.dot * 10000 >= CAST(400 AS HUGEINT) * na.nrm * nb.nrm
      |  GROUP BY 1""".stripMargin

  /** The D4 curation replay shared by `d4_flags` and `d4_prune_report`:
    * the Lloyd state ([[KmeansCtes]]: a2 the final assignment, d2 the
    * distances that produced it), the SemDeDup dup frame (the
    * `semantic_dedup` CTEs verbatim), own-centroid distances read
    * straight off d2, the survivor prototype rank per cluster, and the
    * per-vector verdict — mirroring [[graft.ops.Clustering.d4Prune]] at
    * protoDropBps = 2500.
    */
  private val D4Ctes: String =
    s"""$SemDupCtes
      |), pd AS (
      |  SELECT d2.vec_id, a.cluster, CAST(d2.d AS BIGINT) AS dist_sq
      |  FROM d2 JOIN a2 a ON a.vec_id = d2.vec_id AND d2.cid = a.cluster
      |), sv AS (
      |  SELECT p.vec_id, p.cluster, p.dist_sq,
      |    row_number() OVER (PARTITION BY p.cluster ORDER BY p.dist_sq, p.vec_id) AS prk
      |  FROM pd p LEFT JOIN dup ON dup.vec_id = p.vec_id
      |  WHERE dup.vec_id IS NULL
      |), cs AS (
      |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_surv FROM sv GROUP BY 1
      |), d4flags AS (
      |  SELECT s.vec_id, s.cluster, s.dist_sq, CAST(NULL AS BIGINT) AS dup_of,
      |    CASE WHEN s.prk <= (c.n_surv * 2500) // 10000 THEN 'proto' ELSE 'keep' END AS action
      |  FROM sv s JOIN cs c USING (cluster)
      |  UNION ALL
      |  SELECT p.vec_id, p.cluster, p.dist_sq, d.dup_of, 'dup' AS action
      |  FROM pd p JOIN dup d ON d.vec_id = p.vec_id
      |)""".stripMargin

  /** k-center traversal replay: the greedy chain unrolled — step i picks
    * the (d DESC, vec_id) max from the running min-distance frame and
    * folds its distances in via least(); mirrors
    * [[graft.ops.Clustering.kCenterCoreset]].
    */
  private def kcenterOracle(k: Int): String = {
    val steps = (2 to k).map { i =>
      s""", s$i AS (
        |  SELECT vec_id, qv, d FROM d${i - 1} ORDER BY d DESC, vec_id LIMIT 1
        |), d$i AS (
        |  SELECT v.vec_id, v.qv,
        |    least(v.d, list_sum(list_transform(range(1, 65),
        |      j -> (v.qv[j] - s.qv[j]) * (v.qv[j] - s.qv[j])))) AS d
        |  FROM d${i - 1} v, s$i s
        |)""".stripMargin
    }.mkString
    val rows =
      "SELECT CAST(1 AS INT) AS rank, vec_id, CAST(0 AS BIGINT) AS radius_sq FROM s1" +:
        (2 to k).map(i =>
          s"SELECT CAST($i AS INT), vec_id, CAST(d AS BIGINT) FROM s$i")
    s"""WITH vecs AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(floor(x*1000000.0 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings WHERE len(embedding) = 64
      |), s1 AS (SELECT vec_id, qv FROM vecs ORDER BY vec_id LIMIT 1),
      |d1 AS (
      |  SELECT v.vec_id, v.qv,
      |    list_sum(list_transform(range(1, 65),
      |      j -> (v.qv[j] - s.qv[j]) * (v.qv[j] - s.qv[j]))) AS d
      |  FROM vecs v, s1 s
      |)$steps
      |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Anchor-bucket semantic dedup: every vector in its nearest-anchor
    * bucket `b`, and the later member `dup(vec_id)` of every same-bucket
    * pair with cosine >= 0.35.
    */
  private val AnchorDupCtes: String =
    s"""vecs AS (
      |${qvVecsSelect("vec_id, CAST(embedding AS DOUBLE[]) AS v", "")}
      |), ${anchorAssignCtes("", "qv", "v")}
      |), b AS (SELECT vec_id, bucket FROM assign WHERE rk = 1),
      |dup AS (
      |  SELECT DISTINCT hb.vec_id
      |  FROM b la JOIN b hb ON la.bucket = hb.bucket AND la.vec_id < hb.vec_id
      |  JOIN vecs va ON va.vec_id = la.vec_id
      |  JOIN vecs vb ON vb.vec_id = hb.vec_id
      |  WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= 0.35""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("jl_distortion_sweep") { (s, dir) =>
      // How hard can we compress before similarity breaks: JL ±1 sign
      // projection 64→{8,16,32} dims (md5 coin, plan-time literal matrix),
      // measured |Δcosine| over the id-successor pair sample — exact
      // integer mean/max micro + within-0.05 share. The read-before-
      // compressing curve for 10⁹-vector prefilters (ops/Projection.scala).
      graft.ops.Projection.jlDistortionSweep(table(s, dir, "embeddings"))
    }.oracle({
      // replay: sign(j,i) = md5-32("jl-<j>-<i>") even → +1; projection is
      // exact long sums over micro components; distortion micro-rounds
      // per pair before the integer aggregate
      // single line: this fragment nests inside two more stripMargin
      // layers, which would eat the leading "||" of wrapped lines
      def proj(mv: String, d: Int) =
        s"list_transform(range(0, $d), j -> CAST(list_sum(list_transform(range(1, 65), " +
          s"i -> (CASE WHEN CAST(('0x' || substr(md5('jl-' || CAST(j AS VARCHAR) || '-' " +
          s"|| CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 " +
          s"THEN 1 ELSE -1 END) * $mv[i])) AS DOUBLE))"
      def leg(d: Int) =
        s"""SELECT CAST($d AS INT) AS proj_dim,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST((2 * sum(err) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_err_micro,
          |  CAST(max(err) AS BIGINT) AS max_err_micro,
          |  CAST((2 * 10000 * sum(CASE WHEN err <= 50000 THEN 1 ELSE 0 END) + count(*))
          |    // (2 * count(*)) AS INT) AS within_5pct_bps
          |FROM (
          |  SELECT CAST(floor(abs(round(list_cosine_similarity(
          |      ${proj("m_a", d)}, ${proj("m_b", d)}), 6) - cos_orig) * 1000000.0 + 0.5)
          |    AS BIGINT) AS err
          |  FROM pairs)""".stripMargin
      s"""WITH vecs AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x*1000000.0 + 0.5) AS BIGINT)) AS mv
        |  FROM embeddings
        |), pairs AS (
        |  SELECT a.vec_id AS id_a,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS cos_orig,
        |    a.mv AS m_a, b.mv AS m_b
        |  FROM vecs a JOIN vecs b ON b.vec_id = a.vec_id + 1
        |  WHERE a.vec_id < 100
        |)
        |${leg(8)}
        |UNION ALL
        |${leg(16)}
        |UNION ALL
        |${leg(32)}""".stripMargin
    }),
    Query("embedding_dim_stats") { (s, dir) =>
      // Embedding-batch health check: exact per-dimension micro moments
      // via ONE 2·dim-length buffer per partition through the exchange
      // (ops/Similarity.scala) — never rows×dim exploded rows.
      Similarity.dimStatsMicro(table(s, dir, "embeddings"))
    }.oracle(
      // micro per element is floored BEFORE squaring/summing, so both
      // moments are exact integer sums
      """WITH u AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim_i,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5e0) AS BIGINT) AS mi
        |  FROM embeddings WHERE len(embedding) = 64
        |)
        |SELECT dim_i, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(mi) AS BIGINT) AS sum_micro,
        |  CAST(sum(mi * mi) AS BIGINT) AS sumsq_micro
        |FROM u GROUP BY 1""".stripMargin),
    Query("label_centroids") { (s, dir) =>
      // Mean embedding per label via the VecSumAgg typed aggregator
      // (fixed-size partial buffers through the exchange; explode only
      // after aggregation). Micro-quantized sums: exact integers, so the
      // hash compare is immune to float reduction order.
      Similarity.labelCentroidSumsMicro(table(s, dir, "embeddings"))
    }.oracle(
      """WITH u AS (
        |  SELECT label,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim_i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS e
        |  FROM embeddings
        |)
        |SELECT label, dim_i,
        |  CAST(sum(CAST(floor(e*1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro,
        |  count(*) AS n_vectors
        |FROM u GROUP BY 1, 2""".stripMargin),
    Query("cosine_neardup_sample") { (s, dir) =>
      // Exact embedding-cosine near-dup over a deterministic 10% sample
      // (all-pairs verify path); the full-corpus scale path is
      // cosine_neardup_lsh.
      val emb = table(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      Similarity.cosineNearDupPairs(emb, threshold = 0.2)
    }.oracle(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.2""".stripMargin),
    Query("neardup_triangles") { (s, dir) =>
      // Graph analytics over the near-dup pair graph: per-node triangle
      // participation (local clustering — clique members vs hub false
      // positives). Three equi-joins, optimizer-reorderable
      // (ops/Graph.scala).
      // Optimization r15: rides the shared exact edge list.
      graft.ops.Graph.nodeTriangles(sharedCosPairs02(s, dir))
    }.oracle(
      s"""WITH $SimGraphCtes
        |), tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), corners AS (
        |  SELECT unnest([a, b, c]) AS vec_id FROM tri
        |)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM corners GROUP BY 1""".stripMargin),
    Query("cosine_neardup_lsh") { (s, dir) =>
      // LSH-bucketed near-dup candidates (recall<1 by design → no SQL
      // oracle; recall spec'd against the exact form in SimilaritySpec).
      Similarity.cosineNearDupLsh(table(s, dir, "embeddings"), threshold = 0.2)
    },
    Query("kcenter_coreset") { (s, dir) =>
      // Greedy k-center exemplars (farthest-point traversal) + the
      // covering-radius curve — the coreset-budget answer before a
      // distillation/exemplar pass. k−1 map-only scans, bounded driver
      // state, fully integer-exact (ops/Clustering.scala).
      graft.ops.Clustering.kCenterCoreset(table(s, dir, "embeddings"), k = 8)
    }.oracle(kcenterOracle(8)),
    Query("semdedup_flags") { (s, dir) =>
      // SemDeDup-shape semantic dedup: anchor-quantize the embedding
      // space, flag every vector with a lower-id cluster-mate above the
      // cosine threshold. Bucket identity is integer-exact (same anchors
      // as ann_ivf_anchor_topk), verdict cosine rounds to 6dp — fully
      // SQL-reproducible including the by-design cross-cluster misses.
      // Optimization r15: the memoized sharedSemDedupV1 flags frame.
      sharedSemDedupV1(s, dir)
    }.oracle(
      s"""WITH $AnchorDupCtes
        |)
        |SELECT b.vec_id, CAST(b.bucket AS INT) AS bucket,
        |  CAST(CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
        |FROM b LEFT JOIN dup ON dup.vec_id = b.vec_id""".stripMargin),
    Query("semdedup_threshold_sweep") { (s, dir) =>
      // The knob behind semdedup_flags, measured: dup/kept share per
      // cosine threshold from ONE materialization of best lower-id
      // cluster-mate similarity — |thresholds| counts, not re-joins
      // (ops/Similarity.scala). Optimization r16: the best-mate frame is
      // the shared semDedupCore build the 0.35 flags face also reads.
      val (buckets, best) = sharedSemCore(s, dir)
      Similarity.semDedupThresholdSweepFromCore(buckets, best)
    }.oracle({
      def leg(bps: Int) =
        s"""SELECT CAST($bps AS INT) AS threshold_bps, n.n_docs,
          |  (SELECT CAST(count(*) AS BIGINT) FROM best
          |   WHERE best_sim >= $bps / 10000.0) AS n_dup,
          |  CAST((2 * 10000 * (n.n_docs - (SELECT count(*) FROM best
          |      WHERE best_sim >= $bps / 10000.0)) + n.n_docs)
          |    // (2 * n.n_docs) AS INT) AS kept_bps
          |FROM n""".stripMargin
      s"""WITH vecs AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x*1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings WHERE len(embedding) = 64
        |), ${anchorAssignCtes("", "qv", "v")}
        |), cb AS (SELECT vec_id, bucket FROM assign WHERE rk = 1),
        |best AS (
        |  SELECT b.vec_id AS id,
        |    max(round(list_cosine_similarity(va.v, vb.v), 6)) AS best_sim
        |  FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  JOIN vecs va ON va.vec_id = a.vec_id
        |  JOIN vecs vb ON vb.vec_id = b.vec_id
        |  GROUP BY 1
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM cb)
        |${leg(2500)}
        |UNION ALL
        |${leg(3500)}
        |UNION ALL
        |${leg(5000)}
        |UNION ALL
        |${leg(7000)}""".stripMargin
    }),
    Query("embedding_quant") { (s, dir) =>
      // Symmetric int8 quantization stats — all-IEEE deterministic math,
      // fully oracle-checked including the reconstruction error bound.
      Similarity.quantizeInt8Stats(table(s, dir, "embeddings"))
    }.oracle(
      """WITH a AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, v, amax, 127.0/amax AS scale FROM a WHERE amax > 0.0
        |), q AS (
        |  SELECT vec_id, v, amax, scale,
        |    list_transform(v, x -> CAST(floor(x*scale + 0.5) AS BIGINT)) AS qv
        |  FROM s
        |)
        |SELECT vec_id,
        |  CAST(floor(amax*1000000.0 + 0.5) AS BIGINT) AS amax_micro,
        |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  CAST(list_max(list_transform(range(1, len(qv)+1),
        |    i -> CAST(floor(abs(qv[i]/scale - v[i])*1000000.0 + 0.5) AS BIGINT))) AS BIGINT) AS max_err_micro
        |FROM q""".stripMargin),
    Query("pagerank_neardup") { (s, dir) =>
      // PageRank over the near-dup pair graph (3 power iterations,
      // d=0.85): duplication centrality in exact integer micro units —
      // per-iteration state is ids-only, the degree-annotated edge list
      // is materialized once and each iteration is one co-partitioned
      // join + one aggregation (ops/Graph.scala).
      val emb = table(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      graft.ops.Graph.pageRank(
        Similarity.cosineNearDupPairs(emb, threshold = 0.2).select(col("id_a"), col("id_b")))
    }.oracle(
      s"""WITH $SimGraphCtes
        |), d AS (
        |  SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e
        |), deg AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS deg FROM d GROUP BY s
        |), s0 AS (
        |  SELECT DISTINCT s AS id, CAST(1000000 AS BIGINT) AS pr FROM d
        |), s1 AS (
        |  SELECT d.t AS id,
        |    CAST(150000 + sum((2 * 85 * s0.pr + 100 * deg.deg) // (200 * deg.deg)) AS BIGINT) AS pr
        |  FROM d JOIN deg ON deg.s = d.s JOIN s0 ON s0.id = d.s GROUP BY d.t
        |), s2 AS (
        |  SELECT d.t AS id,
        |    CAST(150000 + sum((2 * 85 * s1.pr + 100 * deg.deg) // (200 * deg.deg)) AS BIGINT) AS pr
        |  FROM d JOIN deg ON deg.s = d.s JOIN s1 ON s1.id = d.s GROUP BY d.t
        |), s3 AS (
        |  SELECT d.t AS id,
        |    CAST(150000 + sum((2 * 85 * s2.pr + 100 * deg.deg) // (200 * deg.deg)) AS BIGINT) AS pr
        |  FROM d JOIN deg ON deg.s = d.s JOIN s2 ON s2.id = d.s GROUP BY d.t
        |)
        |SELECT id, pr AS pr_micro FROM s3""".stripMargin),
    Query("clustering_coeff") { (s, dir) =>
      // Local clustering coefficient over the near-dup graph: how
      // clique-like each node's neighborhood is, in exact basis points —
      // separates real dup clusters (→10000) from hub artifacts (→0)
      // (ops/Graph.scala).
      val emb = table(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      graft.ops.Graph.clusteringCoeff(
        Similarity.cosineNearDupPairs(emb, threshold = 0.2).select(col("id_a"), col("id_b")))
    }.oracle(
      s"""WITH $SimGraphCtes
        |), deg AS (
        |  SELECT vec_id, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS vec_id FROM e UNION ALL SELECT b AS vec_id FROM e) GROUP BY 1
        |), tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), tricnt AS (
        |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT unnest([a, b, c]) AS vec_id FROM tri) GROUP BY 1
        |)
        |SELECT deg.vec_id, deg.deg,
        |  COALESCE(t.n_triangles, 0) AS n_triangles,
        |  CAST(CASE WHEN deg.deg >= 2
        |    THEN (2 * 10000 * 2 * COALESCE(t.n_triangles, 0) + deg.deg * (deg.deg - 1))
        |         // (2 * deg.deg * (deg.deg - 1))
        |    ELSE 0 END AS INT) AS coeff_bps
        |FROM deg LEFT JOIN tricnt t ON t.vec_id = deg.vec_id""".stripMargin),
    Query("label_prop_communities") { (s, dir) =>
      // Synchronous label propagation (3 rounds, deterministic min-of-
      // argmax rule): community labels over the near-dup graph —
      // per-round state ids-only, edge list materialized once
      // (ops/Graph.scala).
      val emb = table(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      graft.ops.Graph.labelPropagation(
        Similarity.cosineNearDupPairs(emb, threshold = 0.2).select(col("id_a"), col("id_b")))
    }.oracle(
      s"""WITH $SimGraphCtes
        |), d AS (
        |  SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e
        |), l0 AS (
        |  SELECT DISTINCT s AS id, s AS label FROM d
        |), l1 AS (
        |  SELECT t AS id, label FROM (
        |    SELECT d.t, l.label, row_number() OVER (
        |      PARTITION BY d.t ORDER BY count(*) DESC, l.label) AS rn
        |    FROM d JOIN l0 l ON l.id = d.s GROUP BY d.t, l.label) WHERE rn = 1
        |), l2 AS (
        |  SELECT t AS id, label FROM (
        |    SELECT d.t, l.label, row_number() OVER (
        |      PARTITION BY d.t ORDER BY count(*) DESC, l.label) AS rn
        |    FROM d JOIN l1 l ON l.id = d.s GROUP BY d.t, l.label) WHERE rn = 1
        |), l3 AS (
        |  SELECT t AS id, label FROM (
        |    SELECT d.t, l.label, row_number() OVER (
        |      PARTITION BY d.t ORDER BY count(*) DESC, l.label) AS rn
        |    FROM d JOIN l2 l ON l.id = d.s GROUP BY d.t, l.label) WHERE rn = 1
        |)
        |SELECT id, label FROM l3""".stripMargin),
    Query("semdedup_corpus_v2") { (s, dir) =>
      // The apply face of SemDeDup v2: the surviving corpus after
      // reciprocal-confidence dedup — drop every vector the mutual-top-k
      // + threshold criterion flagged (keep-lowest-id survivors).
      // Optimization r15: slice of the memoized sharedSemDedupMutual flags.
      sharedSemDedupMutual(s, dir)
        .filter(col("is_dup") === 0)
        .select(col("vec_id"))
    }.oracle(
      s"""WITH $MutualIvfCtes, flag AS (
        |  SELECT DISTINCT id_b AS vec_id FROM mut WHERE cos_sim >= 0.35
        |)
        |SELECT v.vec_id FROM vecs v LEFT JOIN flag f ON f.vec_id = v.vec_id
        |WHERE f.vec_id IS NULL""".stripMargin),
    Query("kmeans_clusters") { (s, dir) =>
      // Distributed Lloyd k-means in exact integer arithmetic: map-only
      // assignment against driver-held (bounded k×dim) centroids,
      // VecSumAgg combiner-lifted centroid updates. Oracle unrolls the
      // same two assignment rounds in SQL.
      graft.ops.Clustering.kmeansAssignFrom(sharedLloyd(s, dir)._1)
    }.oracle(
      s"""$KmeansCtes
        |SELECT vec_id, cluster FROM a2""".stripMargin),
    Query("kmeans_parallel_init") { (s, dir) =>
      // The seeding decision priced: naive lowest-id seeds vs k-means||
      // (Bahmani et al. 2012 — rounds of md5-race oversampling prop. to
      // cost, weighted pool reduced greedily to k driver-side), both run
      // through the SAME two Lloyd rounds, exact integer inertia at the
      // seed stage and after. k-means++'s k sequential corpus passes
      // become `rounds` passes at 100 TB; this face shows what the
      // oversampled init buys in objective value on real embeddings
      // (ops/Clustering.scala).
      graft.ops.Clustering.kmeansParallelInit(table(s, dir, "embeddings"))
    }.oracle(kmeansParallelOracle()),
    Query("kmeans_silhouette") { (s, dir) =>
      // Is k=8 the right clustering? Simplified (centroid-based)
      // silhouette per cluster over the trained Lloyd state: exact count
      // + exact sum of per-vector micro silhouettes + round-half-up mean
      // — the cohesion/separation read before trusting the SemDeDup/IVF
      // bucketing that sits on this clustering (ops/Clustering.scala).
      val (asg, cents) = sharedLloyd(s, dir)
      graft.ops.Clustering.silhouetteFrom(asg, cents)
    }.oracle(
      s"""$KmeansCtes, ab AS (
        |  SELECT d2.vec_id, a.cluster,
        |    min(CASE WHEN d2.cid = a.cluster THEN d2.d END) AS a2d,
        |    min(CASE WHEN d2.cid != a.cluster THEN d2.d END) AS b2d
        |  FROM d2 JOIN a2 a ON a.vec_id = d2.vec_id
        |  GROUP BY 1, 2
        |), sv AS (
        |  SELECT cluster,
        |    CASE WHEN greatest(a2d, b2d) = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(floor((sqrt(CAST(b2d AS DOUBLE)) - sqrt(CAST(a2d AS DOUBLE)))
        |        / sqrt(CAST(greatest(a2d, b2d) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |    END AS sm
        |  FROM ab
        |), agg AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(sum(sm) AS BIGINT) AS sum_sil_micro
        |  FROM sv GROUP BY 1
        |)
        |SELECT cluster, n_vecs, sum_sil_micro,
        |  CAST((2*sum_sil_micro + n_vecs
        |    - (((2*sum_sil_micro + n_vecs) % (2*n_vecs)) + 2*n_vecs) % (2*n_vecs))
        |    // (2*n_vecs) AS BIGINT) AS mean_sil_micro
        |FROM agg""".stripMargin),
    Query("kmeans_label_ari") { (s, dir) =>
      // Does the trained clustering recover the planted labels? Adjusted
      // Rand Index between the Lloyd assignment and the label column —
      // chance-corrected pair counting as one exact rational; ~0 here
      // says the embedding space carries no label structure, agreeing
      // with the silhouette read (ops/Contingency.scala).
      val emb = table(s, dir, "embeddings")
      graft.ops.Contingency.adjustedRandIndex(
        graft.ops.Clustering.kmeansAssignFrom(sharedLloyd(s, dir)._1)
          .join(emb.select(col("vec_id"), col("label")), Seq("vec_id")),
        "cluster", "label")
    }.oracle(
      s"""$KmeansCtes, cells AS (
        |  SELECT a2.cluster, e.label, CAST(count(*) AS HUGEINT) AS c
        |  FROM a2 JOIN embeddings e ON e.vec_id = a2.vec_id
        |  GROUP BY 1, 2
        |), sab AS (
        |  SELECT sum(c * (c - 1)) AS s_ab, CAST(sum(c) AS BIGINT) AS n FROM cells
        |), sa AS (
        |  SELECT sum(m * (m - 1)) AS s_a
        |  FROM (SELECT sum(c) AS m FROM cells GROUP BY cluster)
        |), sb AS (
        |  SELECT sum(m * (m - 1)) AS s_b
        |  FROM (SELECT sum(c) AS m FROM cells GROUP BY label)
        |), q AS (
        |  SELECT n, s_ab, s_a, s_b,
        |    CAST(n AS HUGEINT) * (n - 1) AS n2,
        |    2 * CAST(n AS HUGEINT) * (n - 1) * s_ab - 2 * s_a * s_b AS num,
        |    CAST(n AS HUGEINT) * (n - 1) * (s_a + s_b) - 2 * s_a * s_b AS den
        |  FROM sab, sa, sb
        |)
        |SELECT n, CAST(s_ab AS BIGINT) AS sum_pairs_cells2,
        |  CAST(s_a AS BIGINT) AS sum_pairs_a2, CAST(s_b AS BIGINT) AS sum_pairs_b2,
        |  CAST(CASE WHEN den > 0 THEN (2000000 * num + den
        |    - (((2000000 * num + den) % (2 * den)) + 2 * den) % (2 * den)) // (2 * den)
        |    END AS BIGINT) AS ari_micro
        |FROM q""".stripMargin),
    Query("semantic_dedup") { (s, dir) =>
      // SemDeDup: near-dup removal within k-means clusters (equi-join on
      // cluster id, never all-pairs); τ² = 400/10000 (τ = 0.2, the corpus's
      // established near-dup bar) compared in DECIMAL(38,0) — exact.
      graft.ops.Clustering.semanticDedupFrom(sharedLloyd(s, dir)._1)
    }.oracle(
      s"""$SemDupCtes
        |)
        |SELECT v.vec_id, dup.dup_of
        |FROM (SELECT vec_id FROM embeddings) v LEFT JOIN dup ON dup.vec_id = v.vec_id""".stripMargin),
    Query("d4_flags") { (s, dir) =>
      // D4 curation (dedup then de-prototype): SemDeDup drops within-
      // cluster near-dups, then SSL-prototypes drops the 25% of each
      // cluster's SURVIVORS closest to its trained centroid — the
      // mutually-similar-as-a-population mass no pairwise dup bar can
      // reach. One verdict row per vector off the same exact Lloyd state
      // as kmeans_clusters (ops/Clustering.scala).
      sharedD4Flags(s, dir)
    }.oracle(
      s"""$D4Ctes
        |SELECT vec_id, cluster, dist_sq, dup_of, action FROM d4flags""".stripMargin),
    Query("d4_prune_report") { (s, dir) =>
      // The D4 census per cluster: totals, drops by stage (dup vs proto),
      // keeps, kept share in bps — the health row the curation run
      // records next to the corpus it prunes (ops/Clustering.scala).
      graft.ops.Clustering.d4PruneReportFrom(sharedD4Flags(s, dir))
    }.oracle(
      s"""$D4Ctes
        |SELECT cluster,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN action = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN action = 'proto' THEN 1 ELSE 0 END) AS BIGINT) AS n_proto,
        |  CAST(sum(CASE WHEN action = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST((20000 * sum(CASE WHEN action = 'keep' THEN 1 ELSE 0 END) + count(*))
        |    // (2 * count(*)) AS BIGINT) AS kept_bps
        |FROM d4flags GROUP BY 1""".stripMargin),
    Query("embedding_top_pc") { (s, dir) =>
      // Dominant variance direction of the embedding cloud: exact integer
      // scatter matrix via ONE CrossMomentAgg pass (fixed buffer per
      // partition, never rows x d^2 pairs), then eight driver-side exact
      // power-iteration steps on the d x d copy (ops/Similarity.scala).
      graft.ops.Similarity.topPrincipalComponent(table(s, dir, "embeddings"))
    }.oracle(EmbeddingTopPcOracle),
    Query("embedding_top2_pcs") { (s, dir) =>
      // First TWO principal directions (PCA-whitening / all-but-the-top
      // preprocessing): same single CrossMomentAgg corpus pass, PC2 by
      // division-free deflation (project out PC1 scaled by its norm^2 —
      // every intermediate stays an exact integer), full trajectory
      // replayed by the oracle (ops/Similarity.scala).
      graft.ops.Similarity.topTwoPrincipalComponents(table(s, dir, "embeddings"))
    }.oracle(EmbeddingTop2PcsOracle),
    Query("embedding_anisotropy") { (s, dir) =>
      // All-but-the-top diagnostic: bps share of centered variance the
      // top two principal directions carry. High PC1 share = one rogue
      // direction dominating every cosine — project it out before ANN.
      // Division-free centering + exact integer projections; one moment
      // pass + one projection pass (ops/Similarity.scala).
      graft.ops.Similarity.embeddingAnisotropy(table(s, dir, "embeddings"))
    }.oracle(EmbeddingAnisotropyOracle),
    Query("contrastive_batches") { (s, dir) =>
      // In-batch-negatives-safe batch assignment: round-robin each
      // label's members across max-label-count batches, so no two
      // same-label vectors ever share a batch (ops/Packing.scala).
      graft.ops.Packing.contrastiveBatches(table(s, dir, "embeddings"))
    }.oracle(
      """WITH c AS (SELECT label, count(*) AS cnt FROM embeddings GROUP BY 1),
        |nb AS (SELECT max(cnt) AS nb FROM c),
        |r AS (
        |  SELECT vec_id, label,
        |    row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk
        |  FROM embeddings
        |)
        |SELECT vec_id, label, CAST((rk - 1) % nb.nb AS INT) AS batch
        |FROM r CROSS JOIN nb""".stripMargin),
    Query("contrastive_collision_audit") { (s, dir) =>
      // Accidental-positive audit: reciprocal near-dup pairs (mutual IVF
      // top-5, cos >= 0.35) that land in the SAME contrastive batch —
      // the label-disjoint batcher can't see cross-label near-dups, and
      // each such pair poisons the in-batch negatives. One row per
      // affected batch + the -1 summary row; ids-only joins over two
      // existing frames.
      val emb = table(s, dir, "embeddings")
      val batches = graft.ops.Packing.contrastiveBatches(emb)
        .select(col("vec_id"), col("batch"))
        .localCheckpoint(eager = true) // joined twice (pair endpoints)
      val pairs = Similarity
        .mutualFromDirected(sharedIvfTopk5(s, dir)) // optimization r15: shared leg
        .filter(col("cos_sim") >= 0.35)
        .select(col("id_a"), col("id_b"))
      val collisions = pairs
        .join(batches.select(col("vec_id").as("id_a"), col("batch").as("ba")), Seq("id_a"))
        .join(batches.select(col("vec_id").as("id_b"), col("batch").as("bb")), Seq("id_b"))
        .filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("batch"))
        .agg(count(lit(1)).as("n_collisions"))
        .localCheckpoint(eager = true) // batch-bounded; reused for the summary
      collisions.unionByName(
        collisions.agg(
          coalesce(sum(col("n_collisions")), lit(0L)).as("n_collisions"))
          .select(lit(-1).as("batch"), col("n_collisions")))
    }.oracle(
      s"""WITH $MutualIvfCtes,
        |cc AS (SELECT label, count(*) AS cnt FROM embeddings GROUP BY 1),
        |nb AS (SELECT max(cnt) AS nb FROM cc),
        |rr AS (
        |  SELECT vec_id, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk
        |  FROM embeddings
        |), ba AS (
        |  SELECT vec_id, CAST((rk - 1) % nb.nb AS INT) AS batch FROM rr CROSS JOIN nb
        |), pr AS (SELECT id_a, id_b FROM mut WHERE cos_sim >= 0.35),
        |coll AS (
        |  SELECT x.batch, CAST(count(*) AS BIGINT) AS n_collisions
        |  FROM pr JOIN ba x ON x.vec_id = pr.id_a JOIN ba y ON y.vec_id = pr.id_b
        |  WHERE x.batch = y.batch GROUP BY 1
        |)
        |SELECT batch, n_collisions FROM coll
        |UNION ALL
        |SELECT -1,
        |  coalesce(CAST((SELECT sum(n_collisions) FROM coll) AS BIGINT), 0)""".stripMargin),
    Query("neardup_assortativity") { (s, dir) =>
      // Degree assortativity of the near-dup graph: hubs-connect-to-hubs
      // (mirror-farm signature) vs hub-and-spoke, as one exact-rational
      // Pearson r over the edge endpoints' degrees (ops/Graph.scala).
      // Optimization r15: rides the shared exact edge list.
      graft.ops.Graph.degreeAssortativity(sharedCosPairs02(s, dir))
    }.oracle(
      s"""WITH $SimGraphCtes
        |), deg AS (
        |  SELECT vec_id, CAST(count(*) AS HUGEINT) AS deg
        |  FROM (SELECT a AS vec_id FROM e UNION ALL SELECT b AS vec_id FROM e) GROUP BY 1
        |), wd AS (
        |  SELECT da.deg AS dj, db.deg AS dk
        |  FROM e JOIN deg da ON da.vec_id = e.a JOIN deg db ON db.vec_id = e.b
        |), ag AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS ne, sum(dj + dk) AS sx,
        |    sum(dj * dj + dk * dk) AS sxx, sum(2 * dj * dk) AS sxy
        |  FROM wd
        |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |q AS (
        |  SELECT n_nodes, ne, 2 * ne * sxy - sx * sx AS rnum,
        |    2 * ne * sxx - sx * sx AS rden
        |  FROM ag CROSS JOIN nn
        |)
        |SELECT n_nodes, CAST(ne AS BIGINT) AS n_edges,
        |  CAST(CASE WHEN rden > 0 THEN (2000000 * rnum + rden
        |    - (((2000000 * rnum + rden) % (2 * rden)) + 2 * rden) % (2 * rden)) // (2 * rden)
        |    END AS BIGINT) AS assortativity_micro
        |FROM q""".stripMargin),
    Query("lof_outliers") { (s, dir) =>
      // Local Outlier Factor over the embedding sample: density-based
      // outlier scores from the directed kNN frame — k-distance,
      // reachability, lrd, LOF, all exact integer micro/milli arithmetic
      // once the leg's 6-dp cosine lands. Brute leg here for exact
      // recall; the operator takes ANY directed frame
      // (ops/Similarity.scala).
      val emb = table(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      Similarity.lofFromDirected(Similarity.bruteForceTopK(emb, emb, k = 5))
    }.oracle(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id % 10 = 0),
        |s AS (
        |  SELECT a.vec_id AS qa, b.vec_id AS nb,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS cs
        |  FROM e a JOIN e b ON a.vec_id != b.vec_id
        |), r AS (
        |  SELECT qa, nb, cs,
        |    row_number() OVER (PARTITION BY qa ORDER BY cs DESC, nb) AS rk
        |  FROM s
        |), d AS (
        |  SELECT qa, nb,
        |    1000000 - CAST(floor(cs * 1000000.0 + 0.5) AS BIGINT) AS dm
        |  FROM r WHERE rk <= 5
        |),
        |$LofChainCtes
        |$LofChainSelect""".stripMargin),
    Query("lof_outliers_ivf") { (s, dir) =>
      // The scale-shaped LOF: same exact integer chain, but the directed
      // leg is the deterministic-anchor IVF top-k over the FULL corpus —
      // the injectable-leg contract again; all LOF work is three
      // equi-joins over the N·k frame regardless of leg
      // (ops/Similarity.scala).
      // Optimization r15: rides the memoized sharedIvfTopk5 directed leg.
      Similarity.lofFromDirected(sharedIvfTopk5(s, dir))
    }.oracle(
      s"""WITH $MutualIvfCtes, d AS (
        |  SELECT query_id AS qa, neighbor_id AS nb,
        |    1000000 - CAST(floor(cos_sim * 1000000.0 + 0.5) AS BIGINT) AS dm
        |  FROM t
        |),
        |$LofChainCtes
        |$LofChainSelect""".stripMargin),
    Query("semdedup_mutual_flags") { (s, dir) =>
      // SemDeDup v2: reciprocal-confidence near-dup flags — a pair only
      // counts if EACH vector is in the other's IVF top-5 AND the cosine
      // clears the threshold; keep-lowest-id. The precision-leaning
      // sibling of semdedup_flags (ops/Similarity.scala).
      // Optimization r15: the memoized sharedSemDedupMutual flags frame.
      sharedSemDedupMutual(s, dir)
    }.oracle(
      s"""WITH $MutualIvfCtes, flag AS (
        |  SELECT DISTINCT id_b AS vec_id FROM mut WHERE cos_sim >= 0.35
        |)
        |SELECT v.vec_id, CAST(CASE WHEN f.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
        |FROM vecs v LEFT JOIN flag f ON f.vec_id = v.vec_id""".stripMargin),
    Query("semdedup_v1_v2_agreement") { (s, dir) =>
      // Do the one-directional (v1) and mutual-confidence (v2) dedup
      // gates make the same calls? Full confusion cells + Cohen's kappa
      // in exact integer rationals (ops/Contingency.scala) — the
      // calibration row a pipeline reads before tightening its dedup
      // criterion.
      // Optimization r15: both gates are the memoized shared flag frames.
      val v1 = sharedSemDedupV1(s, dir)
        .select(col("vec_id"), col("is_dup").as("dup_v1"))
      val v2 = sharedSemDedupMutual(s, dir)
        .select(col("vec_id"), col("is_dup").as("dup_v2"))
      graft.ops.Contingency.agreementKappa(v1.join(v2, "vec_id"), "dup_v1", "dup_v2")
    }.oracle(
      s"""WITH $MutualIvfCtes, b AS (
        |  SELECT vec_id, bucket FROM assign WHERE rk = 1
        |), dup AS (
        |  SELECT DISTINCT hb.vec_id
        |  FROM b la JOIN b hb ON la.bucket = hb.bucket AND la.vec_id < hb.vec_id
        |  JOIN vecs va ON va.vec_id = la.vec_id
        |  JOIN vecs vb ON vb.vec_id = hb.vec_id
        |  WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= 0.35
        |), flag AS (
        |  SELECT DISTINCT id_b AS vec_id FROM mut WHERE cos_sim >= 0.35
        |), j AS (
        |  SELECT CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END AS dv1,
        |    CASE WHEN flag.vec_id IS NULL THEN 0 ELSE 1 END AS dv2
        |  FROM vecs v LEFT JOIN dup ON dup.vec_id = v.vec_id
        |              LEFT JOIN flag ON flag.vec_id = v.vec_id
        |), ${agreementKappaTail("cells", "dv1", "dv2")}""".stripMargin),
    Query("text_vs_semantic_dedup_kappa") { (s, dir) =>
      // Do the two dedup MODALITIES agree? Text-level near-dup flags
      // (banded md5 MinHash, exact-Jaccard >= 0.8, has-a-lower-id-partner
      // convention) vs embedding-level SemDeDup flags on the same ids —
      // the cross-modality calibration a pipeline reads before deciding
      // whether semantic dedup adds anything over cheap text dedup.
      // Ids-only join of two pinned gates + one kappa aggregation.
      val docs = table(s, dir, "documents")
      val textFlags = docs.select(col("doc_id").as("id"))
        .join(
          Dedup.minhashMd5Pairs(docs, threshold = 0.8)
            .select(col("id_b").as("id")).distinct().withColumn("d", lit(1)),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("d"), lit(0)).as("dup_text"))
      val semFlags = sharedSemDedupV1(s, dir)
        .select(col("vec_id").as("id"), col("is_dup").as("dup_sem"))
      graft.ops.Contingency
        .agreementKappa(textFlags.join(semFlags, Seq("id")), "dup_text", "dup_sem")
    }.oracle(
      s"""$Md5NearDupCtes, lshd AS (
        |  SELECT DISTINCT id_b AS id FROM pj WHERE jaccard >= 0.8
        |), tflag AS (
        |  SELECT d.doc_id AS id, CASE WHEN lshd.id IS NULL THEN 0 ELSE 1 END AS ka
        |  FROM documents d LEFT JOIN lshd ON lshd.id = d.doc_id
        |), $AnchorDupCtes
        |), sflag AS (
        |  SELECT b.vec_id AS id, CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END AS kb
        |  FROM b LEFT JOIN dup ON dup.vec_id = b.vec_id
        |), j AS (
        |  SELECT ka, kb FROM tflag JOIN sflag USING (id)
        |), ${agreementKappaTail("cells", "ka", "kb")}""".stripMargin),
    Query("neardup_link_prediction") { (s, dir) =>
      // Recall repair after banded dedup: resource-allocation scores for
      // non-adjacent pairs sharing neighbors in the near-dup graph — the
      // exact-rational Adamic-Adar member, no ln anywhere
      // (ops/Graph.scala).
      // Optimization r15: rides the shared exact edge list.
      graft.ops.Graph.resourceAllocation(sharedCosPairs02(s, dir))
    }.oracle(
      s"""WITH $SimGraphCtes
        |), deg AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1
        |), adj AS (
        |  SELECT d.v, u, (2 * 1000000 + deg) // (2 * deg) AS term
        |  FROM (SELECT a AS v, b AS u FROM e UNION ALL SELECT b AS v, a AS u FROM e) d
        |  JOIN deg ON deg.v = d.v WHERE deg <= 64
        |), w AS (
        |  SELECT x.u AS a, y.u AS b, x.term
        |  FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = x.u AND e.b = y.u)
        |)
        |SELECT a AS id_a, b AS id_b, CAST(count(*) AS BIGINT) AS n_common,
        |  CAST(sum(term) AS BIGINT) AS ra_micro
        |FROM w GROUP BY 1, 2""".stripMargin),
    Query("centroid_cosines") { (s, dir) =>
      // Class-level embedding geometry: pairwise cosine between label
      // centroids from the exact integer centroid sums (cosine is
      // scale-invariant, so no mean division); IEEE sqrt/division only
      // (ops/Similarity.scala).
      graft.ops.Similarity.centroidCosines(table(s, dir, "embeddings"))
    }.oracle(
      """WITH ex AS (
        |  SELECT label, i.i + 1 AS dim_i,
        |    CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000 + 0.5e0) AS HUGEINT) AS q
        |  FROM embeddings, range(64) i(i)
        |), cs AS (
        |  SELECT label, dim_i, sum(q) AS s FROM ex GROUP BY 1, 2
        |), dots AS (
        |  SELECT a.label AS label_a, b.label AS label_b, sum(a.s * b.s) AS dot
        |  FROM cs a JOIN cs b ON a.dim_i = b.dim_i AND a.label < b.label
        |  GROUP BY 1, 2
        |), norms AS (SELECT label, sum(s * s) AS n2 FROM cs GROUP BY 1)
        |SELECT label_a, label_b,
        |  CAST(CASE WHEN na.n2 > 0 AND nb.n2 > 0 THEN floor(CAST(dot AS DOUBLE)
        |    / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) * 1000.0e0 + 0.5e0)
        |    END AS BIGINT) AS cos_milli
        |FROM dots
        |JOIN norms na ON na.label = dots.label_a
        |JOIN norms nb ON nb.label = dots.label_b""".stripMargin),
    Query("label_confusion") { (s, dir) =>
      // Label-noise screen: nearest-centroid confusion matrix over the
      // micro-quantized exact distances — off-diagonal mass is the
      // mislabeled/confusable sliver (ops/Similarity.scala). Centroids
      // broadcast; each point scores map-side; labels^2 rows out.
      Similarity.labelConfusion(table(s, dir, "embeddings"))
    }.oracle(
      """WITH ex AS (
        |  SELECT vec_id, label, i.i + 1 AS dim_i,
        |    CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000 + 0.5e0) AS BIGINT) AS q
        |  FROM embeddings, range(64) i(i)
        |), cs AS (
        |  SELECT label, dim_i, CAST(sum(q) AS HUGEINT) AS s, CAST(count(*) AS HUGEINT) AS n
        |  FROM ex GROUP BY 1, 2
        |), cq AS (
        |  SELECT label, dim_i,
        |    (2 * s + n - (((2 * s + n) % (2 * n)) + 2 * n) % (2 * n)) // (2 * n) AS cq
        |  FROM cs
        |), dist AS (
        |  SELECT e.vec_id, e.label, c.label AS cl,
        |    sum((e.q - c.cq) * (e.q - c.cq)) AS d
        |  FROM ex e JOIN cq c ON c.dim_i = e.dim_i
        |  GROUP BY 1, 2, 3
        |), nearest AS (
        |  SELECT vec_id, label, cl AS nearest_label FROM (
        |    SELECT vec_id, label, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
        |    FROM dist) WHERE rn = 1
        |)
        |SELECT label, nearest_label, CAST(count(*) AS BIGINT) AS n_points
        |FROM nearest GROUP BY 1, 2""".stripMargin)
  )
}
