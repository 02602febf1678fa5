package graft.ops

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * one scan of the corpus, rank per query. The cosine/projection inner
  * products run as native codegen'd expressions ([[graft.functions.VecMath]])
  * operating on `array<float>` directly — the compositional
  * `zip_with`/`aggregate` forms are kept as executable specifications.
  *
  * Scale path: random-hyperplane LSH — each vector gets a `nbits` signature;
  * candidates are corpus rows whose signature bucket matches the query's
  * (plus multiprobe neighbors at hamming distance 1), exact-reranked within
  * the bucket. The corpus is bucketed ONCE (write-side partitioning at
  * 100 TB) and each query touches only its buckets instead of the full scan.
  */
object Similarity {

  /** Sequential-fold dot product in double precision (deterministic order —
    * matches the oracle's evaluation exactly).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native one-pass cosine (accepts `array<float>` directly — no doubled
    * corpus copy); bit-identical to [[cosineComposed]] (spec-asserted).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimExpr.column(a, b)

  /** Compositional form — kept as the executable specification the native
    * expression is checked against.
    */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Per-group top-k via the bounded-heap [[graft.functions.TopKAgg]]:
    * partial aggregation caps each map partition's contribution at k rows
    * per group before the exchange — a window-rank would shuffle every row.
    * Returns (groupCol, idCol, scoreCol, rank), rank 1-based by
    * (score desc, id asc).
    *
    * Requires integral (byte/short/int/long) group and id columns and a
    * numeric score column — a lossy cast (e.g. string ids → null) would
    * silently collapse groups, so non-conforming types fail fast instead.
    */
  def topKPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      k: Int,
      distinctIds: Boolean = false
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    def requireType(name: String, ok: DataType => Boolean, want: String): Unit = {
      val dt = df.schema(name).dataType
      require(ok(dt), s"topKPerGroup: column '$name' must be $want, got ${dt.simpleString}")
    }
    val integral: DataType => Boolean =
      { case ByteType | ShortType | IntegerType | LongType => true; case _ => false }
    val numeric: DataType => Boolean =
      { case _: NumericType => true; case _ => false }
    requireType(groupCol, integral, "an integral type (byte/short/int/long)")
    requireType(idCol, integral, "an integral type (byte/short/int/long)")
    requireType(scoreCol, numeric, "numeric")
    df
      .select(col(groupCol).cast("long"), col(idCol).cast("long"), col(scoreCol).cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(k, distinctIds).toColumn.name("topk"))
      .flatMap { case (g, buf) =>
        buf.entries.iterator.zipWithIndex.map { case (e, i) => (g, e.id, e.score, i + 1) }
      }
      .toDF(groupCol, idCol, scoreCol, "rank")
  }

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)

  /** Brute-force cosine top-k: for every query vector, the k nearest corpus
    * vectors (excluding itself). Ranking uses cosine rounded to 6 decimals
    * with an id tie-break, making the cut deterministic across engines.
    *
    * Plan shape: broadcast(queries) × corpus scan → bounded-heap top-k
    * aggregation; the exchange carries ≤ k rows per (partition, query).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive/retrieval training: for each
    * query, the k most similar corpus vectors with a DIFFERENT label —
    * the near-miss negatives that make the loss informative (random
    * negatives are trivially separable; same-label neighbors are
    * positives, not negatives). Same `(query_id, neighbor_id, cos_sim,
    * rank)` contract as every directed ANN leg.
    *
    * Shape here is the broadcast-queries brute scorer (exact recall, the
    * oracle face); at corpus scale run any ANN leg first and apply the
    * label-mismatch filter on its bounded candidate frame — the filter
    * composes with the leg, it does not change the join.
    */
  def hardNegativesTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"), col(labelCol).as("q_label"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col(labelCol).as("c_label"))
    val scored = c
      .join(
        broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("q_label") =!= col("c_label"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Pack the sign bits of a float vector into `ceil(dim/32)` bigint words:
    * bit j of word w is set iff `vec[32w + j] > 0`. 32 bits per word (not
    * 64) keeps every word inside the non-negative bigint range so the
    * packing is bit-identical in engines without unsigned shifts.
    */
  def signWords(vecCol: String, dim: Int): Column = {
    require(dim > 0, s"signWords: dim must be positive, got $dim")
    val words = (0 until (dim + 31) / 32).map { w =>
      val base = w * 32
      val n = math.min(32, dim - base)
      s"""aggregate(sequence(0, ${n - 1}), CAST(0 AS BIGINT),
         |  (a, j) -> a + IF(element_at($vecCol, j + ${base + 1}) > CAST(0 AS FLOAT),
         |                   shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""".stripMargin
    }
    expr(s"array(${words.mkString(", ")})")
  }

  /** Binary (sign) quantization ANN: quantize every vector to one bit per
    * dimension, shortlist by Hamming distance over the packed words, then
    * exact-cosine rerank of the shortlist only — the "binary quantization
    * + rescore" pattern production vector stores use for their coarsest,
    * cheapest tier. Same `(query_id, neighbor_id, cos_sim, rank)` contract
    * as every directed ANN leg.
    *
    * 100 TB shape: the Hamming stage scans signatures, not vectors — each
    * corpus row crosses the plan as dim/32 bigint words (a 64-dim float
    * vector becomes 2 longs: 16× smaller than the float array, 32× smaller
    * than doubles), scored against broadcast query signatures with
    * codegen'd `bit_count(xor)`; the bounded-heap top-k caps the exchange
    * at `shortlist` rows per (partition, query). Full float vectors are
    * touched only for the ≤ queries × shortlist rerank frame. Fully
    * deterministic (sign test + id tie-breaks) → full SQL oracle, unlike
    * the randomized-hyperplane LSH leg.
    */
  def signHammingTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      shortlist: Int = 32,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(shortlist >= k, s"signHammingTopK: shortlist $shortlist < k $k")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val qSig = q.select(col("query_id"), signWords("q_vec", dim).as("q_sig"))
    val ham = c
      .select(col("neighbor_id"), signWords("c_vec", dim).as("c_sig"))
      .join(broadcast(qSig), col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        // negated so TopKAgg's (score desc, id asc) order means
        // (hamming asc, id asc) — the deterministic shortlist cut; one
        // codegen'd xor-popcount call (optimization r16)
        (-graft.functions.LongVecExpr.hammingWords(col("q_sig"), col("c_sig")))
          .as("neg_hamming"))
    val short = topKPerGroup(ham, "query_id", "neighbor_id", "neg_hamming", shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val rerank = c
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
    topKPerQuery(rerank, k)
  }

  /** Mutual (reciprocal) top-k nearest neighbors: pairs where EACH vector
    * ranks inside the other's top-k — the symmetric-confidence criterion
    * SemDeDup-style semantic dedup and duplicate verification use, because
    * one-directional top-k membership is cheap to satisfy next to a hub
    * vector while mutuality is not. Output keeps both directed ranks
    * (`rank_ab`, `rank_ba`): their max is the usual pair-confidence
    * ordering.
    *
    * Shape: the directed top-k comes from [[bruteForceTopK]] (bounded-heap
    * aggregation, ≤ k rows per query survive); mutuality is then ONE
    * ids-only self-join of that N·k frame — the quadratic scoring never
    * re-runs, and the join carries (id, id, rank) triples. At corpus
    * scale, use [[mutualFromDirected]] with an ANN directed leg
    * ([[ivfAnchorTopK]], [[ivfTopKIndexed]], [[lshMd5TopK]] — any frame
    * in the shared `(query_id, neighbor_id, cos_sim, rank)` contract):
    * this brute form exists as the exact-recall convenience wrapper and
    * is N²-scoring by construction.
    */
  def mutualTopK(
      emb: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    mutualFromDirected(bruteForceTopK(emb, emb, k, idCol, vecCol))

  /** The mutuality join alone, over a PRECOMPUTED directed top-k frame in
    * the `(query_id, neighbor_id, cos_sim, rank)` contract every ANN leg
    * in this module emits ([[bruteForceTopK]], [[ivfAnchorTopK]],
    * [[ivfTopK]], [[ivfTopKIndexed]], [[lshTopK]], [[lshMd5TopK]],
    * [[pqAdcTopK]], [[ivfPqTopK]]). This is the 100 TB entry point: the
    * directed leg is where the quadratic work lives, so the caller picks
    * the recall/cost point (brute for exactness, IVF/LSH for scale) and
    * this join — one ids-only self-equi-join over the ≤ N·k frame, both
    * sides the same checkpointed plan — stays O(N·k) regardless.
    */
  def mutualFromDirected(directedTopK: DataFrame): DataFrame = {
    val ranked = directedTopK
      .localCheckpoint(eager = true) // reused as both join sides
    ranked.as("x")
      .join(
        ranked.as("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id") &&
          col("x.query_id") < col("x.neighbor_id"))
      .select(
        col("x.query_id").as("id_a"),
        col("x.neighbor_id").as("id_b"),
        col("x.cos_sim").as("cos_sim"),
        col("x.rank").as("rank_ab"),
        col("y.rank").as("rank_ba"))
  }

  /** Local Outlier Factor (Breunig et al. 2000) over a PRECOMPUTED
    * directed kNN frame in the shared `(query_id, neighbor_id, cos_sim,
    * rank)` contract — density-based outlier scoring for embedding
    * corpora (mislabeled shards, off-distribution documents, encoder
    * glitches): LOF ≈ 1 for points as dense as their neighborhood, ≫ 1
    * for points in sparser regions than their neighbors.
    *
    * Distances are cosine distance in exact micro units
    * (`1e6 − round(cos·1e6)` — the frame's cosine is already 6-dp
    * rounded, so everything downstream is pure integer arithmetic):
    *   - k-distance(p)   = max neighbor distance in p's top-k row set
    *   - reach(p,o)      = max(d(p,o), k-distance(o))
    *   - lrd_micro(p)    = round(1e12·|Nₚ| / Σ reach)   (density)
    *   - lof_milli(p)    = round(1e3·Σ lrd(o) / (|Nₚ|·lrd(p)))
    * Degenerate all-duplicate neighborhoods (Σ reach = 0) take the
    * documented `greatest(·,1)` floor instead of ∞ — deterministic and
    * oracle-replayable.
    *
    * Ties at rank k follow the frame's deterministic (score desc, id asc)
    * cut — the fixed-k LOF variant — rather than the paper's "all ties"
    * neighborhood, so |Nₚ| = min(k, N−1) always.
    *
    * This is the 100 TB entry point by construction: ALL corpus work is
    * three equi-joins/aggregations over the ≤ N·k directed frame (ids and
    * micro longs only — vectors never enter); the quadratic part lives in
    * the leg the caller picks ([[bruteForceTopK]] for exact recall,
    * [[ivfAnchorTopK]]/[[ivfTopKIndexed]]/[[lshMd5TopK]] at corpus
    * scale), exactly the [[mutualFromDirected]] discipline.
    */
  def lofFromDirected(directedTopK: DataFrame): DataFrame = {
    val d = directedTopK
      .select(
        col("query_id"),
        col("neighbor_id"),
        (lit(1000000L) - round(col("cos_sim") * 1e6).cast("long")).as("dist_micro"))
      .localCheckpoint(eager = true) // reused by kdist, reach, and lof legs
    // k-distance + neighborhood size per point (dist is monotone in rank).
    val kdist = d.groupBy(col("query_id").as("pid"))
      .agg(max("dist_micro").as("kdist_micro"), count(lit(1)).as("n_nb"))
      .localCheckpoint(eager = true) // ≤ N rows; reused as both join sides
    // Reachability: max(d(p,o), kdist(o)); lrd from the per-p sum. The
    // join is inner — a neighbor an approximate leg never emitted a row
    // FOR carries no k-distance, so the pair drops and the density ratio
    // runs over the surviving row count (`n_reach`), keeping the math
    // internally consistent on any leg (brute legs: n_reach = n_nb).
    val lrd = d
      .join(
        kdist.select(col("pid").as("neighbor_id"), col("kdist_micro").as("nb_kdist")),
        Seq("neighbor_id"))
      .groupBy(col("query_id").as("pid"))
      .agg(
        sum(greatest(col("dist_micro"), col("nb_kdist"))).as("sum_reach"),
        count(lit(1)).as("n_reach"))
      .join(kdist, Seq("pid"))
      .select(
        col("pid"),
        col("kdist_micro"),
        col("n_nb"),
        // round-half-up (2a+b) div (2b) with the degenerate-zero floor
        expr("(n_reach * 2000000000000 + greatest(sum_reach, 1))" +
          " div (2 * greatest(sum_reach, 1))").as("lrd_micro"))
      .localCheckpoint(eager = true) // ≤ N rows; reused as both join sides
    // LOF: mean neighbor lrd over own lrd (same surviving-row discipline).
    d.join(
        lrd.select(col("pid").as("neighbor_id"), col("lrd_micro").as("nb_lrd")),
        Seq("neighbor_id"))
      .groupBy(col("query_id").as("pid"))
      .agg(sum("nb_lrd").as("sum_nb_lrd"), count(lit(1)).as("n_lof"))
      .join(lrd, Seq("pid"))
      .select(
        col("pid").as("vec_id"),
        col("kdist_micro"),
        col("n_nb"),
        col("lrd_micro"),
        expr("(sum_nb_lrd * 2000 + n_lof * lrd_micro)" +
          " div (2 * n_lof * lrd_micro)").as("lof_milli"))
  }

  /** Per-label mean embedding (centroid), one output row per (label,
    * dimension). Aggregation runs through [[graft.functions.VecSumAgg]] —
    * one fixed-size buffer per group per partition crosses the exchange
    * (combiner lifting), never the dims × rows explosion; the posexplode
    * happens AFTER aggregation, on `labels × dims` rows.
    */
  def labelCentroids(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb
      .select(col(labelCol).cast("int").as("label"), asDouble(col(vecCol)).as("v"))
      .as[(Int, Seq[Double])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.VecSumAgg().toColumn.name("r"))
      .toDF("label", "r")
      .select(col("label"), col("r.n").as("n_vectors"), posexplode(col("r.sums")).as(Seq("pos", "s")))
      .select(
        col("label"),
        (col("pos") + 1).cast("long").as("dim_i"),
        round(col("s") / col("n_vectors"), 4).as("centroid"),
        col("n_vectors")
      )
  }

  /** Cross-engine-exact centroid sums: elements quantized to integer
    * micro-units BEFORE aggregation, so the per-dimension sum is an exact
    * integer — independent of reduction order (double float sums are not,
    * and hash-compares across engines flake on the rounding boundary; this
    * is the oracle-checked face of [[labelCentroids]]).
    */
  def labelCentroidSumsMicro(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb
      .select(
        col(labelCol).cast("int").as("label"),
        transform(asDouble(col(vecCol)), x => floor(x * 1000000 + 0.5).cast("double")).as("v")
      )
      .as[(Int, Seq[Double])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.VecSumAgg().toColumn.name("r"))
      .toDF("label", "r")
      .select(col("label"), col("r.n").as("n_vectors"), posexplode(col("r.sums")).as(Seq("pos", "s")))
      .select(
        col("label"),
        (col("pos") + 1).cast("long").as("dim_i"),
        col("s").cast("long").as("sum_micro"),
        col("n_vectors")
      )
  }

  /** Pairwise cosine similarity between label centroids — the class-level
    * geometry read: which labels' embedding clouds point the same way
    * (candidates for merging) and which are orthogonal. Cosine is
    * scale-invariant, so the integer centroid SUMS of
    * [[labelCentroidSumsMicro]] stand in for the means directly — no
    * division by n anywhere.
    *
    * Exactness: dot products and squared norms are exact DECIMAL(38,0)
    * sums of the micro-quantized integers; `cos_milli` then derives from
    * those exact values with division and sqrt ONLY (correctly-rounded
    * IEEE ops, the welchT discipline — bit-identical cross-engine, no
    * margin audit needed). Zero-norm centroids yield null.
    *
    * Shape: everything after the one [[labelCentroidSumsMicro]] pass is
    * labels×dim bounded — the sums frame is checkpointed once and the
    * pair/norm legs broadcast off it; output is C(labels, 2) rows.
    */
  def centroidCosines(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"
  ): DataFrame = {
    import graft.functions.ExactDecimal.d
    val cs = labelCentroidSumsMicro(emb, labelCol, vecCol).localCheckpoint(eager = true)
    val a = cs.select(col("label").as("label_a"), col("dim_i"), col("sum_micro").as("sa"))
    val b = cs.select(col("label").as("label_b"), col("dim_i"), col("sum_micro").as("sb"))
    val dots = a
      .join(broadcast(b), Seq("dim_i"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(d(col("sa")) * d(col("sb"))).as("dot"))
    val norms = cs
      .groupBy(col("label"))
      .agg(sum(d(col("sum_micro")) * d(col("sum_micro"))).as("n2"))
    dots
      .join(broadcast(norms.select(col("label").as("label_a"), col("n2").as("na2"))), Seq("label_a"))
      .join(broadcast(norms.select(col("label").as("label_b"), col("n2").as("nb2"))), Seq("label_b"))
      .select(
        col("label_a"),
        col("label_b"),
        when(col("na2") > 0 && col("nb2") > 0,
          floor(
            col("dot").cast("double") /
              sqrt(col("na2").cast("double") * col("nb2").cast("double")) *
              lit(1000.0) + lit(0.5)))
          .cast("long")
          .as("cos_milli"))
  }

  /** Label-noise screen: the nearest-centroid confusion matrix — for each
    * (true label, nearest centroid's label) pair, how many points sit
    * closer to ANOTHER label's centroid than their own. Off-diagonal mass
    * is the mislabeled/confusable sliver an embedding-quality audit
    * flags before training on the labels.
    *
    * Exactness: centroids quantize ONCE to micro ints (round-half-up of
    * the exact integer centroid sums over n — a bounded labels×dim
    * frame), points quantize with the same floor(x·10⁶+0.5); distances
    * are then exact long sums of squared differences, and the argmin
    * tie-breaks to the smaller label — bit-identical in any engine.
    *
    * Shape: the quantized centroid frame broadcasts; each point computes
    * its |labels| distances map-side in one array expression (no
    * point×centroid shuffle), then ONE (label, label) aggregation. At
    * any corpus size the exchange carries ≤ labels² rows.
    */
  def labelConfusion(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    val cents = labelCentroidSumsMicro(emb, labelCol, vecCol)
      .select(
        col("label"),
        col("dim_i"),
        scaledRatio(col("sum_micro"), col("n_vectors"), 1L).cast("long").as("cq"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim_i"), col("cq")))).as("dims"))
      .select(col("label"), col("dims.cq").as("cvec"))
      .collect() // bounded: one row per label
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    val spark = emb.sparkSession
    val centArr = array(cents.map { case (l, v) =>
      struct(lit(l).as("cl"), array(v.map(lit(_)): _*).as("cv"))
    }: _*)
    emb
      .select(
        col(labelCol).cast("int").as("label"),
        transform(asDouble(col(vecCol)), x => floor(x * 1000000 + 0.5).cast("long")).as("q"))
      .select(
        col("label"),
        // argmin over (distance, label): one map-side array reduction
        aggregate(
          centArr,
          struct(lit(Long.MaxValue).as("d"), lit(-1).as("cl")),
          (acc, c) => {
            val dist = aggregate(
              zip_with(col("q"), c.getField("cv"), (a, b) => (a - b) * (a - b)),
              lit(0L),
              (s, x) => s + x)
            when(dist < acc.getField("d"), struct(dist.as("d"), c.getField("cl").as("cl")))
              .otherwise(acc)
          }).getField("cl").as("nearest_label"))
      .groupBy(col("label"), col("nearest_label"))
      .agg(count(lit(1)).as("n_points"))
  }

  /** Embedding-cosine near-duplicate pairs, exact: all (id_a < id_b) pairs
    * with cosine ≥ threshold. O(n²) dot products — correct at any scale but
    * only affordable on bounded sets (a partition, a sampled audit, a
    * per-cluster verify). The 100 TB path is [[cosineNearDupLsh]]: bucket
    * first, run this only inside buckets.
    */
  def cosineNearDupPairs(
      emb: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(cosine(col("v_a"), col("v_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Near-dup pairs at scale: random-hyperplane LSH buckets (+ hamming-1
    * multiprobe) generate candidates, exact cosine filters them. One shuffle
    * on the bucket key; pair blowup bounded per bucket. Recall < 1 by
    * design (pairs whose signatures differ in ≥2 bits are missed) —
    * spec-checked against the exact form.
    */
  def cosineNearDupLsh(
      emb: DataFrame,
      threshold: Double,
      nbits: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 7L
  ): DataFrame = {
    val sigd = emb.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      lshSignature(col(vecCol), nbits, dim, seed).as("sig")
    )
    // Probe buckets: own signature + every single-bit flip, so any pair
    // within hamming distance 1 shares at least one probe key.
    val probeMasks = lit(0L) +: (0 until nbits).map(j => lit(1L << j))
    val probed = sigd
      .withColumn("probe_sig", explode(array(probeMasks.map(col("sig").bitwiseXOR(_)): _*)))
    val aSide = probed.select(col("probe_sig"), col("id").as("id_a"), col("v").as("v_a"))
    val bSide = sigd.select(col("sig").as("probe_sig"), col("id").as("id_b"), col("v").as("v_b"))
    aSide
      .join(bSide, Seq("probe_sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(cosine(col("v_a"), col("v_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  // ------------------------------------------------------ int8 quantization

  /** Symmetric int8 scalar quantization stats per vector: `scale =
    * 127/max|v|`, `q_i = floor(v_i*scale + 0.5)`. Every step is a
    * deterministic IEEE double op (float→double widening is exact), so the
    * outputs — including the micro-quantized reconstruction error — are
    * bit-identical across engines and fully oracle-checkable. At 100 TB
    * int8 storage cuts the embedding corpus 4× and the dot-product
    * bandwidth with it; this map-only pass is the write-side companion of
    * the ANN operators.
    */
  def quantizeInt8Stats(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val v = asDouble(col(vecCol))
    val amax = array_max(transform(v, x => abs(x)))
    val scale = lit(127.0) / amax
    val q = transform(v, x => floor(x * scale + 0.5).cast("long"))
    val errMicro = array_max(
      zip_with(q, v, (qi, x) => floor(abs(qi / scale - x) * 1000000.0 + 0.5).cast("long"))
    )
    emb
      .filter(amax > 0.0)
      .select(
        col(idCol),
        floor(amax * 1000000.0 + 0.5).cast("long").as("amax_micro"),
        aggregate(q, lit(0L), (acc, x) => acc + x).as("sum_q"),
        array_min(q).cast("long").as("q_min"),
        array_max(q).cast("long").as("q_max"),
        errMicro.as("max_err_micro")
      )
  }

  // ------------------------------------------------------------------- IVF

  /** Train IVF coarse centroids: seeded k-means (k-means++ init, Lloyd
    * iterations) over a bounded sample. Training on a driver-side sample is
    * the standard IVF recipe (FAISS trains coarse quantizers on ≤256k
    * samples regardless of corpus size); the full corpus never leaves the
    * executors — only `trainN` vectors are collected.
    */
  def trainIvfCentroids(
      corpus: DataFrame,
      nCentroids: Int,
      trainN: Int = 4096,
      iters: Int = 8,
      vecCol: String = "embedding",
      seed: Long = 11L
  ): Array[Array[Double]] = {
    val sample = corpus
      .select(asDouble(col(vecCol)).as("v"))
      .limit(trainN)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val rnd = new Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ init
    val centroids = scala.collection.mutable.ArrayBuffer(sample(rnd.nextInt(sample.length)))
    while (centroids.size < math.min(nCentroids, sample.length)) {
      val dists = sample.map(v => centroids.map(c => d2(v, c)).min)
      val total = dists.sum
      var r = rnd.nextDouble() * total
      var idx = 0
      while (idx < dists.length - 1 && r > dists(idx)) { r -= dists(idx); idx += 1 }
      centroids += sample(idx)
    }
    // Lloyd
    var cs = centroids.toArray
    (0 until iters).foreach { _ =>
      val assign = sample.map(v => cs.indices.minBy(ci => d2(v, cs(ci))))
      cs = cs.indices.map { ci =>
        val members = sample.indices.filter(assign(_) == ci)
        if (members.isEmpty) cs(ci)
        else {
          val m = new Array[Double](cs(ci).length)
          members.foreach { mi => val v = sample(mi); var i = 0; while (i < m.length) { m(i) += v(i); i += 1 } }
          m.map(_ / members.length)
        }
      }.toArray
    }
    cs
  }

  private def sqDist(a: Seq[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Nearest / nprobe-nearest centroid assignment as UDFs over broadcast
    * centroids. Deliberately NOT literal-array expressions: C × dim literals
    * bloat the plan and its codegen cost linearly in C (a real coarse
    * quantizer has C in the hundreds-to-thousands); a broadcast array + one
    * tight-loop UDF keeps the plan O(1) in C and the per-row cost identical.
    */
  def nearestCentroidUdf(centroids: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((v: Seq[Double]) => {
      var best = 0; var bestD = Double.MaxValue; var ci = 0
      while (ci < centroids.length) {
        val d = sqDist(v, centroids(ci)); if (d < bestD) { bestD = d; best = ci }; ci += 1
      }
      best
    })

  def nearestCentroidsUdf(centroids: Array[Array[Double]], nprobe: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((v: Seq[Double]) =>
      centroids.indices
        .map(ci => (sqDist(v, centroids(ci)), ci))
        .sorted
        .take(nprobe)
        .map(_._2)
    )

  /** IVF-Flat ANN: corpus vectors are bucketed by nearest coarse centroid
    * (at 100 TB: a write-side partition/bucket column, built once); each
    * query exact-reranks only its `nprobe` nearest buckets — corpus scanned
    * per query drops from 100% to ~nprobe/C. Same output schema as
    * [[bruteForceTopK]]; recall < 1 by design.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 11L
  ): DataFrame = {
    val centroids = trainIvfCentroids(corpus, nCentroids, seed = seed, vecCol = vecCol)
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("c_vec")
    ).withColumn("bucket", nearestCentroidUdf(centroids)(col("c_vec")))
    val q = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
      .withColumn("bucket", explode(nearestCentroidsUdf(centroids, nprobe)(col("q_vec"))))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
    // no dedup needed: each corpus vector sits in exactly ONE bucket and a
    // query's nprobe probes are distinct, so a (query, neighbor) pair can
    // meet at most once — a dropDuplicates here would shuffle the full
    // candidate frame for nothing.
    topKPerQuery(scored, k)
  }

  /** Write-side IVF index: the corpus stored hive-partitioned by nearest
    * coarse centroid. This is the "index once, query many" layout the
    * 100 TB ANN story needs — [[ivfTopK]] recomputes bucket assignment per
    * query batch (a full corpus scan); against this layout every query
    * batch reads ONLY its nprobe partitions via partition pruning, ~nprobe/C
    * of the corpus, enforced by parquet `PartitionFilters`.
    *
    * Returns the trained centroids — pass them (or retrain with the same
    * seed; training is deterministic) to [[ivfTopKIndexed]].
    */
  def buildIvfIndex(
      corpus: DataFrame,
      indexDir: String,
      nCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 11L
  ): Array[Array[Double]] = {
    val centroids = trainIvfCentroids(corpus, nCentroids, seed = seed, vecCol = vecCol)
    corpus
      .select(col(idCol), asDouble(col(vecCol)).as("c_vec"))
      .withColumn("bucket", nearestCentroidUdf(centroids)(col("c_vec")))
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(indexDir)
    centroids
  }

  /** ANN over a [[buildIvfIndex]] layout: each query probes its nprobe
    * nearest centroids; the bucket IN-list predicate prunes the scan to
    * those partitions — the per-batch cost is proportional to the probed
    * slice, not the corpus. Same output contract as [[bruteForceTopK]].
    *
    * Bucket list is collected from the (tiny, broadcast) query set — the
    * partition filter must be a literal IN-list to prune at planning time.
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      centroids: Array[Array[Double]],
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
      .withColumn("bucket", explode(nearestCentroidsUdf(centroids, nprobe)(col("q_vec"))))
    val probedBuckets = q.select(col("bucket")).distinct().collect().map(_.getInt(0))
    val c = spark.read.parquet(indexDir)
      .filter(col("bucket").isin(probedBuckets.toSeq: _*))
      .select(col(idCol).as("neighbor_id"), col("c_vec"), col("bucket"))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
    topKPerQuery(scored, k)
  }

  /** Deterministic random hyperplanes: `nbits` × `dim` doubles, seed-fixed. */
  private[ops] def hyperplanes(nbits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(nbits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-of-projection LSH signature as a long bitmask (nbits <= 63):
    * native one-pass expression, bit-identical to [[lshSignatureComposed]]
    * (spec-asserted; identical plane sequence and fold order).
    */
  def lshSignature(vec: Column, nbits: Int, dim: Int, seed: Long = 7L): Column =
    graft.functions.LshSigExpr.column(vec, nbits, dim, seed)

  /** Compositional form — executable specification for the native one.
    * Length-mismatched vectors yield null, matching the native expression
    * (bit-identical on ALL inputs, malformed rows included).
    */
  def lshSignatureComposed(vec: Column, nbits: Int, dim: Int, seed: Long = 7L): Column = {
    val planes = hyperplanes(nbits, dim, seed)
    val bits = planes.zipWithIndex.map { case (p, j) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(asDouble(vec), planeCol) > 0, lit(1L << j)).otherwise(lit(0L))
    }
    when(size(vec) === dim, bits.reduce(_ bitwiseOR _))
  }

  /** LSH-bucketed ANN: candidates share the query's signature bucket or any
    * bucket at hamming distance 1 (multiprobe), exact cosine rerank inside.
    * Returns the same schema as [[bruteForceTopK]] (recall < 1 by design).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nbits: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 7L
  ): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"),
      lshSignature(col(vecCol), nbits, dim, seed).as("c_sig")
    )
    // Each query probes its own bucket + all nbits single-bit-flip buckets.
    val probeMasks = lit(0L) +: (0 until nbits).map(j => lit(1L << j))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        lshSignature(col(vecCol), nbits, dim, seed).as("q_sig"))
      .withColumn("probe", explode(array(probeMasks: _*)))
      .withColumn("c_sig", col("q_sig").bitwiseXOR(col("probe")))
      .drop("probe", "q_sig")
    val candidates = c.join(broadcast(q), Seq("c_sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
    // no dedup needed: probe masks are distinct, so the probed signatures
    // q_sig XOR mask are distinct and a corpus vector (one signature) can
    // match at most one probe — pairs are unique by construction. (Same
    // invariant removes the dedup shuffle in every bucketed ANN leg here.)
    topKPerQuery(candidates, k)
  }

  /** ±1 sign planes derived from md5 — the engine-portable twin of the
    * seeded-Gaussian [[hyperplanes]] family. Plane (j, d)'s sign is the low
    * bit of the first 4 md5 bytes of the string "j-d": random-sign
    * projections are a classic LSH family (Achlioptas-style sparse/sign
    * random projections), and md5 is identical in every engine, so a SQL
    * oracle reproduces the planes without any exported fixture.
    */
  private def md5SignPlanes(nbits: Int, dim: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nbits, dim) { (j, d) =>
      val digest = md.digest(s"$j-$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((digest(3) & 1) == 1) 1L else -1L
    }
  }

  /** md5-anchored sign-of-projection LSH signature, integer-exact: vector
    * components quantize to micro-units (floor(x*1e6 + 0.5) — IEEE-exact
    * identically in Spark and DuckDB), the per-bit dot product is then a
    * signed 64-bit integer sum, and bit j is set iff that sum is positive.
    * No float aggregate ever crosses the hash compare, so the signature —
    * and with it the LSH bucket identity the ann_lsh/cosine_neardup_lsh
    * family relies on — sits under a full SQL oracle. Null for vectors
    * whose length differs from `dim` (same guard as [[lshSignature]]).
    */
  def lshSigMd5(vec: Column, nbits: Int, dim: Int): Column =
    // one codegen'd call (optimization r16) — the compositional twin below
    // ran nbits × dim interpreted lambda evals per row on the signature
    // pass of every LSH-md5 query; bit-identical (spec-asserted)
    graft.functions.LshMd5Expr.sig(vec, nbits, dim)

  /** Compositional form of [[lshSigMd5]] — kept as the executable
    * specification the native kernel is checked against (SimilaritySpec).
    */
  def lshSigMd5Composed(vec: Column, nbits: Int, dim: Int): Column = {
    val planes = md5SignPlanes(nbits, dim)
    val qv = transform(asDouble(vec), x => floor(x * lit(1e6) + lit(0.5)).cast("long"))
    val bits = planes.zipWithIndex.map { case (p, j) =>
      val planeCol = array(p.map(lit): _*)
      val proj = aggregate(zip_with(qv, planeCol, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    when(size(vec) === dim, bits.reduce(_ bitwiseOR _))
  }

  /** LSH-bucketed top-k on the md5 sign planes — the oracle-checkable twin
    * of [[lshTopK]]: identical probe strategy (own bucket + every
    * single-bit flip), identical cosine rerank and deterministic id
    * tie-break, but bucket identity comes from [[lshSigMd5]]'s integer-exact
    * signatures, so a SQL oracle reproduces the candidate set — and with it
    * the exact top-k rows — bit-for-bit. Restricted to `dim`-length vectors
    * (signature is null otherwise and the equi-join drops it, identically
    * in both engines).
    */
  def lshMd5TopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nbits: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"),
      lshSigMd5(col(vecCol), nbits, dim).as("c_sig")
    )
    val probeMasks = lit(0L) +: (0 until nbits).map(j => lit(1L << j))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        lshSigMd5(col(vecCol), nbits, dim).as("q_sig"))
      .withColumn("probe", explode(array(probeMasks: _*)))
      .withColumn("c_sig", col("q_sig").bitwiseXOR(col("probe")))
      .drop("probe", "q_sig")
    val candidates = c.join(broadcast(q), Seq("c_sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
    topKPerQuery(candidates, k)
  }

  /** The `nProbes` single-bit flip masks a QUERY-DIRECTED multiprobe
    * should try, smallest |projection| first (Lv et al., "Multi-Probe
    * LSH", VLDB'07, restricted to the hamming-1 perturbations): a bit
    * whose signed projection is near zero is the bit most likely to be
    * wrong for a true neighbor, so flipping in margin order buys the
    * recall of all-bit probing at a fraction of the probe count.
    * Projections are the integer-exact md5-plane sums of [[lshSigMd5]],
    * sorted by (|proj|, bit) — a total order both engines reproduce.
    * Null for vectors whose length differs from `dim` (same guard as
    * [[lshSigMd5]] — the malformed row drops out of every probe join).
    * A right-length vector with a null element has null projections, so
    * every margin is null and ties: the masks are bits 0 .. nProbes-1 in
    * bit order.
    */
  private def md5MarginFlips(vec: Column, nbits: Int, dim: Int, nProbes: Int): Column = {
    // one codegen'd projections call (optimization r16), bound ONCE as a
    // lambda variable so the nbits margin structs index the same array
    // instead of re-running the fold per bit
    val projs = graft.functions.LshMd5Expr.projs(vec, nbits, dim)
    when(size(vec) === dim,
      element_at(
        transform(
          array(projs),
          ps =>
            transform(
              slice(
                array_sort(array((0 until nbits).map { j =>
                  struct(abs(element_at(ps, j + 1)).as("a"), lit(j).as("j"),
                    lit(1L << j).as("mask"))
                }: _*)),
                1, nProbes),
              s => s.getField("mask"))),
        1))
  }

  /** Multiprobe candidate frame with the probe rank attached: `flip_rank`
    * 0 is the query's own bucket, rank r the r-th smallest-margin bit
    * flip. Probed signatures are distinct per query, so a corpus vector
    * matches at most one probe — (query, neighbor) pairs are unique with
    * no dedup shuffle, the same invariant as every bucketed leg here.
    */
  private def lshMd5MultiprobeCandidates(
      corpus: DataFrame,
      queries: DataFrame,
      nProbes: Int,
      nbits: Int,
      dim: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"),
      lshSigMd5(col(vecCol), nbits, dim).as("c_sig"))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        lshSigMd5(col(vecCol), nbits, dim).as("q_sig"),
        md5MarginFlips(col(vecCol), nbits, dim, nProbes).as("flips"))
      .select(col("query_id"), col("q_vec"), col("q_sig"),
        posexplode(concat(array(lit(0L)), col("flips"))).as(Seq("flip_rank", "mask")))
      .withColumn("c_sig", col("q_sig").bitwiseXOR(col("mask")))
      .drop("q_sig", "mask")
    c.join(broadcast(q), Seq("c_sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"), col("flip_rank"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
  }

  /** Query-directed multiprobe LSH top-k: probe the query's own bucket
    * plus only the `nProbes` smallest-margin single-bit flips, instead of
    * [[lshMd5TopK]]'s all-`nbits` flips. Same schema and rerank contract
    * as every directed ANN leg. The scale argument: candidate volume — the
    * shuffled/scored row count, THE cost driver of a bucketed ANN pass at
    * 10⁹ vectors — drops by roughly nbits/nProbes while margin-ordering
    * keeps most of the recall; [[lshMultiprobeSweep]] measures exactly
    * that trade on this corpus. Fully SQL-reproducible (md5 planes,
    * integer margins, deterministic tie-breaks).
    *
    * A query of the right length with a null element signs to bucket 0
    * (a null element leaves every [[lshSigMd5]] bit unset) and has no
    * margins, so it probes bucket 0 plus the single-bit flips of bits
    * 0 .. nProbes-1, in bit order (SimilaritySpec pins this).
    */
  def lshMd5MultiprobeTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbes: Int = 4,
      nbits: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    topKPerQuery(
      lshMd5MultiprobeCandidates(corpus, queries, nProbes, nbits, dim, idCol, vecCol)
        .drop("flip_rank"),
      k)

  /** The multiprobe tuning curve: for each probe budget t in
    * `probeCounts`, recall@k against the exact brute-force answer AND the
    * candidate volume that budget paid — the two numbers an operator
    * tuning an LSH deployment trades against each other. One candidate
    * pass at max(probeCounts) serves every budget (probe sets are nested
    * by construction: budget t keeps flip_rank ≤ t), so the sweep costs
    * one multiprobe run, not |probeCounts|. The brute leg is the eval
    * harness, not the production path — same contract as ann_ivf_recall.
    */
  def lshMultiprobeSweep(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      probeCounts: Seq[Int] = Seq(1, 2, 4, 8),
      nbits: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    import spark.implicits._
    val cands = lshMd5MultiprobeCandidates(
      corpus, queries, probeCounts.max, nbits, dim, idCol, vecCol)
      .localCheckpoint(eager = true) // queries × candidates — bounded; reused per budget
    val truth = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = true) // queries × k rows
    val budgets = broadcast(probeCounts.toDF("n_probes"))
    val swept = cands.join(budgets, col("flip_rank") <= col("n_probes"))
    val ranked = swept
      .withColumn("rank", row_number().over(
        Window.partitionBy("n_probes", "query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
    val candCounts = swept.groupBy("n_probes").agg(count(lit(1)).as("n_candidates"))
    val hitCounts = ranked
      .join(truth, Seq("query_id", "neighbor_id"))
      .groupBy("n_probes").agg(count(lit(1)).as("n_hits"))
    val rel = truth.groupBy().agg(count(lit(1)).as("n_relevant"))
    candCounts
      .join(hitCounts, Seq("n_probes"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(rel))
      .select(
        col("n_probes"), col("n_candidates"), col("n_hits"), col("n_relevant"),
        expr("CAST((2 * 10000 * n_hits + n_relevant) div (2 * n_relevant) AS INT)")
          .as("recall_bps"))
  }

  /** Embedding-cosine near-dup candidates bucketed by the md5 sign-plane
    * signature — the oracle-checkable twin of [[cosineNearDupLsh]]: same
    * probe-own-bucket-plus-single-bit-flips candidate generation, same
    * exact-cosine verification at `threshold`, portable bucket identity.
    */
  def cosineNearDupLshMd5(
      emb: DataFrame,
      threshold: Double,
      nbits: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val sigd = emb.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      lshSigMd5(col(vecCol), nbits, dim).as("sig")
    )
    val probeMasks = lit(0L) +: (0 until nbits).map(j => lit(1L << j))
    val probed = sigd
      .withColumn("probe_sig", explode(array(probeMasks.map(col("sig").bitwiseXOR(_)): _*)))
    val aSide = probed.select(col("probe_sig"), col("id").as("id_a"), col("v").as("v_a"))
    val bSide = sigd.select(col("sig").as("probe_sig"), col("id").as("id_b"), col("v").as("v_b"))
    aSide
      .join(bSide, Seq("probe_sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(cosine(col("v_a"), col("v_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** IVF top-k with DETERMINISTIC anchors — the oracle-checkable twin of
    * [[ivfTopK]]: instead of k-means centroids (seeded-random training no
    * SQL engine reproduces), the coarse quantizer is the corpus vectors
    * with the given ids, in id order. Assignment and probing use
    * integer-exact squared L2 over micro-quantized components (floor(x*1e6
    * + 0.5) — the [[lshSigMd5]] trick), with the anchor INDEX as
    * tie-break, so bucket identity — and hence the candidate set and the
    * cosine top-k over it — is reproducible in any engine. No UDF: the
    * distance is a zip_with/aggregate expression, fully codegen-friendly.
    * Restricted to `dim`-length vectors like the other md5 twins.
    *
    * Join-side contract at scale: the probe frame joins the bucketed
    * corpus on `bucket`. With a SMALL anchor count the bucket key has too
    * few distinct values for a healthy shuffle join (16 keys starve a
    * 1000-executor exchange), so by default the query side is
    * broadcast — correct whenever queries are a bounded working set (the
    * ANN-serving shape). When queries ≡ corpus (the mutual-NN /
    * SemDeDup-v2 legs), a corpus-sized broadcast is impossible at 10⁹
    * vectors: there you scale `nAnchors` with the corpus (SemDeDup used
    * 50k clusters for 5B docs) so the bucket key is shuffle-worthy, and
    * pass `broadcastQueries = false` to get the plain bucket equi-join —
    * identical results (spec-pinned), different physical plan. The
    * registered sf0.1 queries keep the default: at 16 anchors the hint
    * IS the right local plan.
    */
  def ivfAnchorTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nAnchors: Int = 16,
      nprobe: Int = 4,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      broadcastQueries: Boolean = true
  ): DataFrame = {
    val micro = microVec _
    val base = corpus.filter(size(col(vecCol)) === dim)
    val anchors = lowestIdAnchorsMicro(base, nAnchors, idCol, vecCol)
    def probeOrder(qv: Column): Column = anchorProbeOrder(qv, anchors)
    val c = base
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), micro(col(vecCol)).as("c_micro"))
      .withColumn("bucket", element_at(probeOrder(col("c_micro")), 1).getField("i"))
      .drop("c_micro")
    val q = queries
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), micro(col(vecCol)).as("q_micro"))
      .withColumn("probe", explode(slice(probeOrder(col("q_micro")), 1, nprobe)))
      .select(col("query_id"), col("q_vec"), col("probe").getField("i").as("bucket"))
    val scored = c
      .join(if (broadcastQueries) broadcast(q) else q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
    topKPerQuery(scored, k)
  }

  /** The anchor-IVF probe/score frame at PROBE-RANK granularity — the
    * nprobe-independent stage of the whole anchor family, built once and
    * sliced per probe budget: every (query, candidate) pair reachable
    * within `maxNprobe` probes, carrying the rank `rk` the candidate's
    * home bucket holds in the query's anchor order and the 6-dp cosine.
    * Because every corpus vector lives in exactly ONE bucket (its rank-1
    * assignment) and a query probes distinct buckets in rank order, the
    * nprobe-N candidate set is EXACTLY the `rk <= N` slice — so one
    * corpus assignment + one probe join serves every nprobe, every
    * over-fetch depth, and every top-k cut
    * ([[ivfAnchorTopKFromScored]]; equivalence spec-pinned in
    * SimilaritySpec). Optimization r16 (guide §2.4): ivf_nprobe_sweep
    * previously re-ran the full assign/probe/score chain per nprobe leg,
    * and the filtered-search faces re-built the same probe frame per
    * query.
    */
  def ivfAnchorScored(
      corpus: DataFrame,
      queries: DataFrame,
      maxNprobe: Int = 8,
      nAnchors: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(maxNprobe >= 1 && maxNprobe <= nAnchors, "maxNprobe in [1, nAnchors]")
    val micro = microVec _
    val base = corpus.filter(size(col(vecCol)) === dim)
    val anchors = lowestIdAnchorsMicro(base, nAnchors, idCol, vecCol)
    def probeOrder(qv: Column): Column = anchorProbeOrder(qv, anchors)
    val c = base
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), micro(col(vecCol)).as("c_micro"))
      .withColumn("bucket", element_at(probeOrder(col("c_micro")), 1).getField("i"))
      .drop("c_micro")
    val q = queries
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), micro(col(vecCol)).as("q_micro"))
      .select(col("query_id"), col("q_vec"),
        posexplode(slice(probeOrder(col("q_micro")), 1, maxNprobe)).as(Seq("pos", "probe")))
      .select(col("query_id"), col("q_vec"),
        (col("pos") + 1).as("rk"), col("probe").getField("i").as("bucket"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        col("rk"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
  }

  /** [[ivfAnchorTopK]] off a shared [[ivfAnchorScored]] frame: the
    * nprobe-N result is the top-k over the `rk <= N` slice —
    * bit-identical to the standalone run (spec-pinned), zero corpus work
    * past the shared frame.
    */
  def ivfAnchorTopKFromScored(scored: DataFrame, k: Int, nprobe: Int): DataFrame =
    topKPerQuery(
      scored.filter(col("rk") <= nprobe)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim")),
      k)

  /** IVF top-k with a LEARNED coarse quantizer — the FAISS-shaped upgrade
    * of [[ivfAnchorTopK]]: centroids come from k-means‖ seeding + Lloyd
    * ([[graft.ops.Clustering.parallelLloydCentroids]] — derandomized, so
    * still fully oracle-checkable) instead of the first `nCentroids`
    * corpus vectors in id order. Arbitrary anchors partition the space
    * wherever the ids happened to land; trained centroids sit at density
    * modes, so buckets are balanced and a query's nprobe nearest buckets
    * hold more of its true neighbours at the same probe budget — the
    * recall-per-probe gain `ann_ivf_kmpp_recall` measures against the
    * same brute-force gold the anchor face is graded by.
    *
    * Assignment and probing run at the kmeans family's 10⁴ quantization
    * with the (distance, cluster-id) lexicographic tie-break — integer
    * exact; candidate cosine and the top-k contract are identical to the
    * anchor face. Join-side contract at scale: same as [[ivfAnchorTopK]]
    * (broadcast the bounded query side; scale nCentroids with the corpus
    * when queries ≡ corpus).
    */
  def ivfLearnedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nprobe: Int = 4,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      broadcastQueries: Boolean = true
  ): DataFrame = {
    val base = corpus.filter(size(col(vecCol)) === dim)
    val cents = graft.ops.Clustering.parallelLloydCentroids(
      base, nCentroids, ell = 2 * nCentroids, rounds = 3, iters = 2,
      scale = 10000L, idCol = idCol, vecCol = vecCol)
    ivfCentroidTopK(corpus, queries, k, cents, nprobe, dim, idCol, vecCol, broadcastQueries)
  }

  /** The probe/score stage of [[ivfLearnedTopK]] against an ALREADY
    * trained centroid set — the injectable-leg contract of this family
    * (train once via [[graft.ops.Clustering.parallelLloydCentroids]],
    * serve many query batches; the registered face memoizes the training
    * per session through it).
    */
  def ivfCentroidTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      cents: Seq[(Int, Seq[Long])],
      nprobe: Int = 4,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      broadcastQueries: Boolean = true
  ): DataFrame = {
    import graft.ops.Clustering
    val base = corpus.filter(size(col(vecCol)) === dim)
    def probeOrder(qv: Column): Column =
      sort_array(array(cents.map { case (cid, c) =>
        struct(Clustering.sqDistL(qv, typedLit(c)).as("d"), lit(cid).as("i"))
      }: _*))
    val c = base
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        Clustering.quantize(col(vecCol), 10000L).as("cq"))
      .withColumn("bucket", element_at(probeOrder(col("cq")), 1).getField("i"))
      .drop("cq")
    val q = queries
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        Clustering.quantize(col(vecCol), 10000L).as("qq"))
      .withColumn("probe", explode(slice(probeOrder(col("qq")), 1, nprobe)))
      .select(col("query_id"), col("q_vec"), col("probe").getField("i").as("bucket"))
    val scored = c
      .join(if (broadcastQueries) broadcast(q) else q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
    topKPerQuery(scored, k)
  }

  /** The nprobe knob swept for BOTH coarse quantizers at once — the
    * recall-per-cost CURVE behind the anchor-vs-learned decision
    * (`ann_ivf_kmpp_recall` reads one point of it): per
    * (scheme, nprobe) the candidate count (the exact-scoring cost the
    * probe budget buys) and the CANDIDATE-level recall against the
    * gold pairs — before top-k truncation, so the number is purely the
    * quantizer's (what the probed buckets make reachable), not the
    * ranker's. One assignment pass per scheme (checkpointed: ids ×
    * probe-rank × bucket, metadata-scale) serves every nprobe — the
    * ivf_nprobe_sweep discipline.
    */
  def ivfQuantizerProbeSweep(
      corpus: DataFrame,
      queries: DataFrame,
      goldPairs: DataFrame,
      cents: Seq[(Int, Seq[Long])],
      nprobes: Seq[Int] = Seq(1, 2, 4, 8),
      nAnchors: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(nprobes.nonEmpty)
    import graft.ops.Clustering
    val base = corpus.filter(size(col(vecCol)) === dim)
    val gold = goldPairs.select(col("query_id"), col("neighbor_id"), lit(1L).as("g"))
    val qids = queries.select(col(idCol).cast("long").as("qid")).distinct()
    val anchors = lowestIdAnchorsMicro(base, nAnchors, idCol, vecCol)
    def centOrder(qv: Column): Column =
      sort_array(array(cents.map { case (cid, c) =>
        struct(Clustering.sqDistL(qv, typedLit(c)).as("d"), lit(cid).as("i"))
      }: _*))
    val legs = Seq(
      ("anchor16", (v: Column) => anchorProbeOrder(microVec(v), anchors)),
      ("kmpp16", (v: Column) => centOrder(Clustering.quantize(v, 10000L))))
    legs.map { case (scheme, order) =>
      val ranked = base
        .select(col(idCol).cast("long").as("id"),
          posexplode(order(col(vecCol))).as(Seq("pos", "pb")))
        .select(col("id"), (col("pos") + 1).as("rk"), col("pb").getField("i").as("bucket"))
        .localCheckpoint(eager = true)
      val cbuck = ranked.filter(col("rk") === 1)
        .select(col("id").as("neighbor_id"), col("bucket"))
      val qbuck = ranked
        .join(broadcast(qids), ranked("id") === qids("qid"))
        .select(col("id").as("query_id"), col("rk"), col("bucket"))
      nprobes.map { np =>
        qbuck.filter(col("rk") <= np)
          .join(cbuck, Seq("bucket"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .join(gold, Seq("query_id", "neighbor_id"), "left")
          .agg(
            count(lit(1)).as("n_candidates"),
            coalesce(sum(coalesce(col("g"), lit(0L))), lit(0L)).as("n_hit"))
          .crossJoin(broadcast(gold.agg(count(lit(1)).as("n_gold"))))
          .select(
            lit(scheme).as("scheme"),
            lit(np).as("nprobe"),
            col("n_candidates"),
            col("n_gold"),
            col("n_hit"),
            when(col("n_gold") > 0,
              floor((lit(20000L) * col("n_hit") + col("n_gold")) /
                (lit(2L) * col("n_gold"))).cast("long")).as("recall_bps"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
  }

  /** Index-maintenance report for the anchor-IVF layout: assign a DELTA
    * batch of new vectors to the EXISTING quantizer (anchors trained on
    * the base corpus) and report, per bucket, how the index is aging —
    * base population, base radius (max micro-L2 to the anchor), delta
    * arrivals, how many arrivals land OUTSIDE the base radius, and the
    * growth rate. A rising outside-share is the retrain signal: the
    * coarse quantizer no longer describes the incoming distribution
    * (IVF recall decays even though inserts still "work").
    *
    * Shape: assignment is the same map-only inlined-anchor argmin as
    * [[ivfAnchorTopK]] for BOTH frames; per-bucket stats are two bounded
    * aggregations joined on the ≤ nAnchors-row bucket key. Nothing
    * corpus-sized is collected; at 100 TB the delta scan dominates and
    * the base stats come from the index metadata the build step already
    * wrote.
    */
  def ivfUpsertReport(
      base: DataFrame,
      delta: DataFrame,
      nAnchors: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val baseF = base.filter(size(col(vecCol)) === dim)
    val anchors = lowestIdAnchorsMicro(baseF, nAnchors, idCol, vecCol)
    def assigned(df: DataFrame): DataFrame = df
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("id"), microVec(col(vecCol)).as("mv"))
      .withColumn("a", element_at(anchorProbeOrder(col("mv"), anchors), 1))
      .select(col("id"), col("a.i").as("bucket"), col("a.d").as("d2"))
    val bstat = assigned(baseF)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_base"), max(col("d2")).as("radius_d2"))
      // ≤ nAnchors rows, referenced twice (join side + broadcast radius):
      // materialize once instead of re-scanning/re-assigning the base
      .localCheckpoint(eager = true)
    val dstat = assigned(delta)
      .join(broadcast(bstat.select(col("bucket"), col("radius_d2"))), Seq("bucket"), "left")
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_new"),
        sum((col("d2") > coalesce(col("radius_d2"), lit(-1L))).cast("long")).as("n_new_outside"))
    bstat
      .join(dstat, Seq("bucket"), "left")
      .select(
        col("bucket").cast("int").as("bucket"),
        col("n_base"),
        col("radius_d2"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_new_outside"), lit(0L)).as("n_new_outside"),
        // round-half-up(1e4 * n_new / n_base), all non-negative
        floor((lit(20000L) * coalesce(col("n_new"), lit(0L)) + col("n_base")) /
          (lit(2L) * col("n_base")).cast("double")).cast("long").as("growth_bps"))
  }

  /** FILTERED vector search, prefilter face: exact top-k among corpus
    * vectors sharing the query's attribute value — the
    * "nearest same-category items" query every production vector store
    * exposes (metadata filter + vector rank). This is the gold standard
    * both strategies are judged against: the filter applies BEFORE
    * ranking, so the k results are the true k nearest that satisfy it.
    *
    * Plan shape: the label-equality condition joins the broadcast query
    * row to the corpus scan, so selectivity prunes the scored set
    * map-side — at 100 TB with a partition-key attribute the scan itself
    * prunes (partition pruning), which is why prefilter is the scale
    * default whenever the filtered stratum is still large enough to rank.
    */
  def filteredBruteTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      attrCol: String = "label",
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"), col(attrCol).as("q_attr"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col(attrCol).as("c_attr"))
    val scored = c
      .join(broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("q_attr") === col("c_attr"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** The POST-filter strategy measured against the prefilter gold: run
    * the unfiltered IVF leg once at the deepest over-fetch (`max(overfetch)·k`
    * candidates), then for each over-fetch factor m keep the top m·k
    * unfiltered candidates, apply the attribute filter, re-rank, and
    * score recall@k against [[filteredBruteTopK]] — the measured answer
    * to "how much over-fetch does post-filtering need at this
    * selectivity" (with ~10 uniform labels, m=1 keeps ~k/10 of the
    * answer; the sweep shows where the curve saturates at the IVF leg's
    * own recall ceiling). ONE index probe pass; every leg slices the same
    * checkpointed candidate frame.
    */
  def postFilterRecall(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      overfetch: Seq[Int] = Seq(1, 2, 4, 8),
      attrCol: String = "label",
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      wideTopK: Option[() => DataFrame] = None
  ): DataFrame = {
    require(overfetch.nonEmpty && overfetch.forall(_ >= 1), "overfetch factors >= 1")
    val gold = filteredBruteTopK(corpus, queries, k, attrCol, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = true) // queries×k ids
    val nGold = gold.agg(count(lit(1)).as("n_gold"))
    val attrs = corpus.select(col(idCol).as("neighbor_id"), col(attrCol).as("c_attr"))
    val qAttrs = queries.select(col(idCol).as("query_id"), col(attrCol).as("q_attr"))
    // wideTopK injects an ALREADY-built unfiltered probe frame (the
    // registered face passes the session-shared ivfAnchorTopKFromScored
    // build) — it must equal ivfAnchorTopK(corpus, queries,
    // k = overfetch.max*k) and may carry DEEPER ranks (every consumer
    // slices by ivf_rank <= m*k, so extra depth is filtered out).
    val wide = wideTopK.map(_.apply()).getOrElse(
      ivfAnchorTopK(corpus, queries, k = overfetch.max * k,
        dim = dim, idCol = idCol, vecCol = vecCol))
      .withColumnRenamed("rank", "ivf_rank")
      .join(attrs, Seq("neighbor_id"))
      .join(broadcast(qAttrs), Seq("query_id"))
      .localCheckpoint(eager = true) // queries × max(overfetch)·k rows
    overfetch.map { m =>
      val top = topKPerGroup(
        wide.filter(col("ivf_rank") <= m * k && col("c_attr") === col("q_attr"))
          .select(col("query_id"), col("neighbor_id"), col("cos_sim")),
        "query_id", "neighbor_id", "cos_sim", k)
      top
        .join(gold, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(nGold)) // 1-row gold count
        .select(
          lit(m).as("overfetch"), col("n_gold"), col("n_hit"),
          expr("CAST((2 * 1000000 * n_hit + n_gold) div (2 * n_gold) AS BIGINT)")
            .as("recall_micro"))
    }.reduce(_ unionByName _)
  }

  /** The SELECTIVITY CROSSOVER of filtered vector search — the number a
    * planner needs to pick a strategy. Prefilter ranks only the stratum
    * (recall 1 by construction, cost ∝ selectivity·|corpus| per query);
    * post-filter reuses ONE unfiltered index probe and pays over-fetch
    * instead (cost ∝ m·k, recall < 1). This sweep measures
    * (selectivity × over-fetch) → recall@k on the SAME probe frame, so a
    * planner can read off where post-filter catches the prefilter gold:
    * at ~50% selectivity a small m suffices (half the unfiltered top-k
    * already qualifies); at 1% the filter keeps ~m·k/100 candidates and
    * the curve can never reach gold within the index's own recall
    * ceiling — prefilter (with partition pruning doing the stratum scan)
    * is the scale default there.
    *
    * Selectivity strata are id-residue predicates (`id % 100 < pct`) —
    * deterministic, engine-portable, exact-share. Discipline: the corpus
    * materializes ONCE (checkpoint) and feeds every gold leg and the
    * single deepest-over-fetch IVF probe; every (pct, m) leg slices the
    * same checkpointed candidate frame (`PlanShapeSpec`: no parquet
    * rescan past the checkpoints).
    */
  def filteredCrossover(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      overfetch: Seq[Int] = Seq(1, 2, 4, 8),
      selPcts: Seq[Int] = Seq(1, 10, 50),
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      wideTopK: Option[() => DataFrame] = None
  ): DataFrame = {
    require(overfetch.nonEmpty && overfetch.forall(_ >= 1), "overfetch factors >= 1")
    require(selPcts.nonEmpty && selPcts.forall(p => p >= 1 && p <= 100), "pcts in [1, 100]")
    val base = corpus.filter(size(col(vecCol)) === dim)
      .select(col(idCol), col(vecCol))
      .localCheckpoint(eager = true) // ONE corpus read: gold legs + probe
    val qBase = queries.filter(size(col(vecCol)) === dim)
      .select(col(idCol), col(vecCol))
      .localCheckpoint(eager = true) // queries-row frame
    val q = qBase.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // wideTopK: same injected-probe contract as [[postFilterRecall]] —
    // an already-materialized ivfAnchorTopK(corpus, queries,
    // k >= overfetch.max*k) frame; every leg slices ivf_rank <= m*k.
    val wide = wideTopK.map(w => w().withColumnRenamed("rank", "ivf_rank")).getOrElse(
      ivfAnchorTopK(base, qBase, k = overfetch.max * k,
        dim = dim, idCol = idCol, vecCol = vecCol)
        .withColumnRenamed("rank", "ivf_rank")
        .localCheckpoint(eager = true)) // queries × max(overfetch)·k rows
    selPcts.map { pct =>
      val gold = topKPerGroup(
        base
          .filter(col(idCol) % 100 < pct)
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
          .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")),
        "query_id", "neighbor_id", "cos_sim", k)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true) // queries×k prefilter gold for this stratum
      val nGold = gold.agg(count(lit(1)).as("n_gold"))
      overfetch.map { m =>
        val top = topKPerGroup(
          wide.filter(col("ivf_rank") <= m * k && col("neighbor_id") % 100 < pct)
            .select(col("query_id"), col("neighbor_id"), col("cos_sim")),
          "query_id", "neighbor_id", "cos_sim", k)
        top
          .join(gold, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(broadcast(nGold)) // 1-row gold count
          .select(
            lit(pct).as("selectivity_pct"), lit(m).as("overfetch"),
            col("n_gold"), col("n_hit"),
            expr("CAST((2 * 1000000 * n_hit + n_gold) div (2 * n_gold) AS BIGINT)")
              .as("recall_micro"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
  }

  /** The PLANNER face of [[filteredCrossover]] — its measured finding
    * ("prefilter below ~10% selectivity") encoded as an operator: for
    * each predicate, MEASURE its selectivity with one cheap count over
    * the checkpointed corpus, CHOOSE the strategy against
    * `crossoverBps`, and emit the chosen leg's result bit-identical to
    * that leg run standalone, with the measurement and the choice
    * riding every row (an auditable plan decision, not a silent one).
    *
    * Prefilter = exact brute top-k over the stratum (the filter prunes
    * the scored set before ranking — at 100 TB the stratum scan is
    * partition-pruned). Post-filter = ONE shared unfiltered IVF probe
    * at `overfetch`·k, filter, re-rank — the probe frame materializes
    * once no matter how many predicates choose it, and is never built
    * if none do (lazy). Selectivity predicates are the crossover's
    * id-residue strata (`id % 100 < pct`): deterministic, exact-share,
    * engine-portable.
    */
  def filteredAutoTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      selPcts: Seq[Int] = Seq(1, 50),
      crossoverBps: Long = 1000L,
      overfetch: Int = 4,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      wideTopK: Option[() => DataFrame] = None
  ): DataFrame = {
    require(selPcts.nonEmpty && selPcts.forall(p => p >= 1 && p <= 100), "pcts in [1, 100]")
    require(overfetch >= 1, "overfetch factor >= 1")
    val base = corpus.filter(size(col(vecCol)) === dim)
      .select(col(idCol), col(vecCol))
      .localCheckpoint(eager = true) // ONE corpus read: counts + chosen legs
    val qBase = queries.filter(size(col(vecCol)) === dim)
      .select(col(idCol), col(vecCol))
      .localCheckpoint(eager = true) // queries-row frame
    val q = qBase.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val nCorpus = base.count() // driver scalar: the denominator
    // the single unfiltered probe frame every post-filter choice slices;
    // lazy so an all-prefilter run never pays for it. wideTopK injects a
    // shared frame under the same contract as [[postFilterRecall]]
    // (depth >= overfetch*k; the leg filter slices ivf_rank <= overfetch*k).
    lazy val wide = wideTopK.map(w => w().withColumnRenamed("rank", "ivf_rank")).getOrElse(
      ivfAnchorTopK(base, qBase, k = overfetch * k,
        dim = dim, idCol = idCol, vecCol = vecCol)
        .withColumnRenamed("rank", "ivf_rank")
        .localCheckpoint(eager = true))
    selPcts.map { pct =>
      // THE measurement: one count over the checkpointed ids — the cost
      // a planner pays to not guess
      val nMatch = base.filter(col(idCol) % 100 < pct).count()
      val selBps = if (nCorpus == 0) 0L else (20000L * nMatch + nCorpus) / (2L * nCorpus)
      val prefilter = selBps < crossoverBps
      val res =
        if (prefilter)
          topKPerGroup(
            base
              .filter(col(idCol) % 100 < pct)
              .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
              .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
              .select(col("query_id"), col("neighbor_id"),
                round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")),
            "query_id", "neighbor_id", "cos_sim", k)
        else
          topKPerGroup(
            wide.filter(col("ivf_rank") <= overfetch * k && col("neighbor_id") % 100 < pct)
              .select(col("query_id"), col("neighbor_id"), col("cos_sim")),
            "query_id", "neighbor_id", "cos_sim", k)
      res.select(
        lit(pct).as("selectivity_pct"),
        lit(selBps).as("selectivity_bps"),
        lit(if (prefilter) "prefilter" else "postfilter").as("strategy"),
        col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
    }.reduce(_ unionByName _)
  }

  /** Everything the triangle-pruned EXACT search shares between its
    * result face ([[triPrunedTopKL2]]) and its stats face
    * ([[triPruneStats]]): the per-vector (bucket, centroid-distance)
    * sketch, the triangle-inequality lower bound per (query, vector), the
    * IVF-probe seed threshold, and the surviving candidate set.
    */
  private case class TriChain(
      cSel: DataFrame,     // (neighbor_id, cm) — micro corpus vectors
      q: DataFrame,        // (query_id, qm) — micro query vectors, checkpointed
      lb: DataFrame,       // (query_id, neighbor_id, lb_d2) — checkpointed
      seed: DataFrame,     // (query_id, neighbor_id) — the probe buckets
      tau: DataFrame,      // (query_id, tau_d2) — k-th best exact seed d²
      survivors: DataFrame // (query_id, neighbor_id) with lb ≤ tau
  )

  /** Sentinel when a query's probe seed has fewer than k members: prune
    * nothing (every lb clears it). Mirrored literally in the oracle SQL.
    */
  private val TriNoTau = 900000000000000000L

  /** Exact micro² squared L2 for a candidate (query_id, neighbor_id) pair
    * frame — integer arithmetic only, the single scorer both the seed
    * threshold and the final verify run through.
    */
  private def triExactD2(cSel: DataFrame, q: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(cSel, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.LongVecExpr.sqDist(col("qm"), col("cm")).as("d2"))

  private def triChain(
      corpus: DataFrame, queries: DataFrame, k: Int, nAnchors: Int, nprobe: Int,
      dim: Int, idCol: String, vecCol: String): TriChain = {
    import graft.functions.ExactDecimal.{d => dec, isqrtCeil}
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1 && nprobe <= nAnchors, "1 <= nprobe <= nAnchors")
    val base = corpus.filter(size(col(vecCol)) === dim)
    val anchors = lowestIdAnchorsMicro(base, nAnchors, idCol, vecCol)
    def probeOrder(v: Column) = anchorProbeOrder(v, anchors)
    val cSel = base.select(col(idCol).as("neighbor_id"), microVec(col(vecCol)).as("cm"))
    // the 2-number sketch the bound reads per corpus vector: assigned
    // bucket, exact micro² distance to its centroid, and the ceil-isqrt
    // of that distance (precomputed — the bound needs it per pair)
    val sketch = cSel
      .select(col("neighbor_id"), element_at(probeOrder(col("cm")), 1).as("po1"))
      .select(col("neighbor_id"),
        col("po1").getField("i").as("bucket"),
        col("po1").getField("d").as("d2cu"))
      .withColumn("rcu", isqrtCeil(dec(col("d2cu"))).cast("long"))
      .localCheckpoint(eager = true) // ids + 3 numbers per corpus vector
    val q = queries.filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("query_id"), microVec(col(vecCol)).as("qm"))
      .localCheckpoint(eager = true) // queries-bounded
    def d2ToAnchor(v: Column, av: Array[Long]): Column =
      graft.functions.LongVecExpr.sqDist(v, typedLit(av.toSeq))
    // per-anchor exact distances in INDEX order + their ceil-isqrts
    val qa = q.select(col("query_id"), col("qm"),
      array(anchors.map { case (_, av) => d2ToAnchor(col("qm"), av) }: _*).as("qad2"))
      .withColumn("qar", transform(col("qad2"), x => isqrtCeil(dec(x)).cast("long")))
    // triangle inequality through the assigned centroid c:
    // d(q,u) ≥ |d(q,c) − d(c,u)|, so
    // d²(q,u) ≥ d²(q,c) + d²(c,u) − 2·⌈d(q,c)⌉·⌈d(c,u)⌉ — all integers,
    // never above the true d² (spec-pinned), clamped at 0
    val bIdx = (col("bucket") + 1).cast("int")
    val lb = sketch
      .crossJoin(broadcast(qa.select(col("query_id"), col("qad2"), col("qar"))))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        greatest(lit(0L),
          element_at(col("qad2"), bIdx) + col("d2cu")
            - lit(2L) * element_at(col("qar"), bIdx) * col("rcu")).as("lb_d2"))
      .localCheckpoint(eager = true) // ids+bound; feeds seed-free survivor cut
    // seed = the query's nprobe nearest buckets' members (the IVF probe
    // set), exact-scored; its k-th best distance is the pruning threshold
    val qProbe = qa
      .select(col("query_id"), explode(slice(probeOrder(col("qm")), 1, nprobe)).as("p"))
      .select(col("query_id"), col("p").getField("i").as("bucket"))
    val seed = qProbe
      .join(sketch.select(col("neighbor_id"), col("bucket")), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    val wD = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id"))
    val tau = triExactD2(cSel, q, seed)
      .withColumn("rk", row_number().over(wD))
      .filter(col("rk") === k)
      .select(col("query_id"), col("d2").as("tau_d2"))
    val survivors = lb
      .join(broadcast(tau), Seq("query_id"), "left")
      .filter(col("lb_d2") <= coalesce(col("tau_d2"), lit(TriNoTau)))
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = true) // ids only; drives the exact verify
    TriChain(cSel, q, lb, seed, tau, survivors)
  }

  /** EXACT k-nearest-neighbor search with triangle-inequality pruning —
    * the GEMINI contract applied to embeddings: every corpus vector
    * carries a 2-number sketch (assigned IVF centroid + exact distance to
    * it), the bound d²(q,u) ≥ d²(q,c) + d²(c,u) − 2⌈d(q,c)⌉⌈d(c,u)⌉
    * never overstates closeness (ceil-isqrt keeps it integer-exact), the
    * k-th best exact distance of the query's IVF probe set is the
    * threshold, and only candidates whose bound clears it reach the
    * dim-wide exact scorer. Output bit-identical to brute L2 top-k by
    * construction — its oracle IS the brute SQL. The recall-free sibling
    * of the approximate ANN family: same answer as brute, verified work
    * bounded by the measured survivor count ([[triPruneStats]]).
    *
    * 100 TB shape: the corpus-sized passes are the one-off sketch build
    * (centroid assignment — shared with any IVF index) and the
    * 3-integer-per-vector bound evaluation; the dim-wide exact verify
    * touches only survivors. All integer, so the threshold and cut replay
    * bit-for-bit in any engine.
    */
  def triPrunedTopKL2(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nAnchors: Int = 16,
      nprobe: Int = 2,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chain = triChain(corpus, queries, k, nAnchors, nprobe, dim, idCol, vecCol)
    val wD = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id"))
    triExactD2(chain.cSel, chain.q, chain.survivors)
      .withColumn("rank", row_number().over(wD).cast("int"))
      .filter(col("rank") <= k)
  }

  /** The bound face of [[triPrunedTopKL2]], exposed so the spec can assert
    * never-false-dismissal directly: (query_id, neighbor_id, lb_d2) with
    * lb_d2 ≤ the exact micro² L2 for EVERY pair.
    */
  def triLowerBounds(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nAnchors: Int = 16,
      nprobe: Int = 2,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    triChain(corpus, queries, k, nAnchors, nprobe, dim, idCol, vecCol).lb

  /** The measured pruning curve of [[triPrunedTopKL2]]: per query, the
    * candidate count, the probe-seed size, the exact threshold, the
    * surviving count, and the pruned share in bps — how much of the
    * corpus the exact search actually had to verify.
    */
  def triPruneStats(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nAnchors: Int = 16,
      nprobe: Int = 2,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    val chain = triChain(corpus, queries, k, nAnchors, nprobe, dim, idCol, vecCol)
    val seedCnt = chain.seed.groupBy(col("query_id")).agg(count(lit(1)).as("n_seed"))
    chain.lb
      .join(broadcast(chain.tau), Seq("query_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        max(col("tau_d2")).as("tau_d2"),
        sum(when(col("lb_d2") <= coalesce(col("tau_d2"), lit(TriNoTau)), 1L)
          .otherwise(0L)).as("n_survivors"))
      .join(broadcast(seedCnt), Seq("query_id"), "left")
      .select(
        col("query_id"), col("n_candidates"),
        coalesce(col("n_seed"), lit(0L)).as("n_seed"),
        col("tau_d2"), col("n_survivors"),
        scaledRatio(col("n_candidates") - col("n_survivors"), col("n_candidates"), 10000L)
          .cast("long").as("pruned_bps"))
  }

  /** Micro-quantized integer copy of a float vector: floor(x·10⁶ + 0.5)
    * per component — the cross-engine-exact coordinate system the anchor
    * ANN family runs its L2 geometry in.
    */
  private def microVec(v: Column): Column =
    transform(asDouble(v), x => floor(x * lit(1e6) + lit(0.5)).cast("long"))

  /** The `n` lowest-id corpus vectors, micro-quantized — the
    * deterministic coarse quantizer (a pure function of the corpus, no
    * RNG, bounded driver collect).
    */
  private def lowestIdAnchorsMicro(
      base: DataFrame,
      n: Int,
      idCol: String,
      vecCol: String
  ): Array[(Long, Array[Long])] =
    base
      .select(col(idCol).cast("long").as("aid"), microVec(col(vecCol)).as("av"))
      .orderBy(col("aid"))
      .limit(n)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))

  /** (dist², anchorIdx) structs sorted ascending — array_sort on structs
    * orders by fields left-to-right, giving the deterministic
    * min-dist-then-index probe order. Integer-exact over micro vectors.
    * Optimization r16: the per-anchor distance is the codegen'd
    * [[graft.functions.LongVecExpr.sqDist]] kernel — the interpreted
    * `aggregate(zip_with(...))` fold ran nAnchors × dim boxed lambda
    * evals per corpus row in the assignment pass of EVERY anchor-IVF
    * query (the r12 LongVecExpr finding, applied to this family);
    * values identical (exact long arithmetic, same null-on-mismatch).
    */
  private def anchorProbeOrder(qv: Column, anchors: Array[(Long, Array[Long])]): Column =
    array_sort(array(anchors.zipWithIndex.map { case ((_, av), i) =>
      struct(graft.functions.LongVecExpr.sqDist(qv, typedLit(av.toSeq)).as("d"), lit(i).as("i"))
    }: _*))

  /** Semantic deduplication, SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a coarse
    * quantizer, then WITHIN each cluster flag every vector that has a
    * lower-id cluster-mate above the cosine threshold — the
    * keep-one-per-semantic-duplicate-set policy that removed 50% of LAION
    * at no quality loss in the paper. Cross-cluster duplicates are missed
    * BY DESIGN (that recall loss is the paper's scalability trade) —
    * pairwise work is bucket-local, never corpus-wide.
    *
    * Determinism/oracle: the quantizer is the [[ivfAnchorTopK]] anchor
    * scheme (lowest-id vectors, integer micro L2, index tie-break), so
    * bucket identity is engine-exact; the verdict cosine rounds to 6dp
    * like every cosine in this file. The whole pipeline replays in SQL.
    *
    * Scale: buckets bound the quadratic term — with k anchors scaled so
    * |bucket| stays ~constant (SemDeDup used 50k clusters for 5B docs),
    * within-bucket pairing is a per-bucket nested loop the optimizer
    * sees as an equi-join on bucket. One exchange keyed by bucket; the
    * flag aggregation is bucket-local. Anchor collect is bounded (k
    * rows); at extreme k, broadcast the anchor table instead (the
    * [[buildIvfIndex]] path).
    */
  def semDedup(
      emb: DataFrame,
      threshold: Double,
      nAnchors: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val base = emb.filter(size(col(vecCol)) === dim)
    val anchors = lowestIdAnchorsMicro(base, nAnchors, idCol, vecCol)
    val assigned = base
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"), microVec(col(vecCol)).as("mv"))
      .withColumn("bucket", element_at(anchorProbeOrder(col("mv"), anchors), 1).getField("i"))
      .drop("mv")
    val dupIds = assigned.as("a")
      .join(
        assigned.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .filter(round(cosine(col("a.v"), col("b.v")), 6) >= threshold)
      .select(col("b.id").as("id"))
      .distinct()
      .withColumn("is_dup", lit(1))
    assigned
      .join(dupIds, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("bucket").cast("int").as("bucket"),
        coalesce(col("is_dup"), lit(0)).cast("int").as("is_dup"))
  }

  /** Coarse-quantizer sizing curve — the OTHER IVF knob ([[ivfAnchorTopK]]
    * fixes nAnchors at 16; `ivf_nprobe_sweep` sweeps probes at that
    * geometry): per candidate anchor count, recall@k of the nprobe=2 run
    * against the caller's gold pairs AND the largest bucket's corpus
    * share — the balance number that decides whether the quantizer
    * partitions work or funnels it (at 10⁹ vectors, anchors ≈ √N and a
    * hot bucket IS the scan you built the index to avoid). Gold computes
    * once (caller-checkpointed); each leg is one bounded probe run + one
    * anchors-row bucket aggregation.
    */
  def ivfAnchorSweep(
      emb: DataFrame,
      queries: DataFrame,
      gold: DataFrame,
      k: Int,
      anchorCounts: Seq[Int] = Seq(4, 8, 16, 32),
      nprobe: Int = 2,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val nGold = gold.agg(count(lit(1)).as("n_gold"))
    val base = emb.filter(size(col(vecCol)) === dim)
    anchorCounts.map { a =>
      val anchors = lowestIdAnchorsMicro(base, a, idCol, vecCol)
      val balance = base
        .select(element_at(anchorProbeOrder(microVec(col(vecCol)), anchors), 1)
          .getField("i").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("max_bucket"), sum(col("c")).as("n_vecs"))
      val hits = ivfAnchorTopK(emb, queries, k, a, nprobe, dim, idCol, vecCol)
        .join(gold, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
      hits
        .crossJoin(broadcast(nGold)) // 1-row gold count
        .crossJoin(broadcast(balance)) // 1-row balance
        .select(
          lit(a).as("n_anchors"), col("n_gold"), col("n_hit"),
          expr("CAST((2 * 1000000 * n_hit + n_gold) div (2 * n_gold) AS BIGINT)")
            .as("recall_micro"),
          expr("CAST((2 * 10000 * max_bucket + n_vecs) div (2 * n_vecs) AS INT)")
            .as("max_bucket_bps"))
    }.reduce(_ unionByName _)
  }

  /** The threshold-independent core of the SemDeDup v1 family, built once
    * and checkpointed: the anchor bucket assignment `(id, bucket)` and,
    * per doc, the best 6-dp cosine to any LOWER-id bucket-mate
    * `(id, best_sim)` — a doc is a dup at threshold t iff best_sim ≥ t,
    * so every [[semDedup]] flag frame and every sweep leg is a filter
    * over these two ids-only frames (optimization r16, guide §2.4: the
    * flags face and the sweep each re-ran the full bucket pair join per
    * bench pass). Both frames are ids + one scalar — scale-safe to pin.
    */
  def semDedupCore(
      emb: DataFrame,
      nAnchors: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): (DataFrame, DataFrame) = {
    val base = emb.filter(size(col(vecCol)) === dim)
    val anchors = lowestIdAnchorsMicro(base, nAnchors, idCol, vecCol)
    val assigned = base
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"), microVec(col(vecCol)).as("mv"))
      .withColumn("bucket", element_at(anchorProbeOrder(col("mv"), anchors), 1).getField("i"))
      .drop("mv")
    val buckets = assigned.select(col("id"), col("bucket")).localCheckpoint(eager = true)
    val best = assigned.as("a")
      .join(
        assigned.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("b.id").as("id"), round(cosine(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .groupBy(col("id"))
      .agg(max(col("cos_sim")).as("best_sim"))
      .localCheckpoint(eager = true) // ids + one double; every leg reads this
    (buckets, best)
  }

  /** [[semDedup]] off a shared [[semDedupCore]]: a doc has a qualifying
    * lower-id mate at threshold t iff its best mate similarity clears t —
    * bit-identical to the standalone run (spec-pinned).
    */
  def semDedupFromCore(
      buckets: DataFrame,
      best: DataFrame,
      threshold: Double,
      idCol: String = "vec_id"
  ): DataFrame =
    buckets
      .join(best, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("bucket").cast("int").as("bucket"),
        coalesce((col("best_sim") >= threshold).cast("int"), lit(0)).cast("int").as("is_dup"))

  /** The SemDeDup tuning curve: dup share and kept share per candidate
    * cosine threshold, computed from ONE materialization of the
    * bucket-mate similarities — per doc, the best similarity to any
    * LOWER-id cluster-mate (`best_sim`), after which every threshold leg
    * is a count over that ids-only frame. A doc is dropped at threshold t
    * iff best_sim ≥ t, so the sweep is exactly |thresholds| filtered
    * counts, not |thresholds| re-joins — the semantic-dedup answer to
    * `minhash_threshold_sweep`. SemDeDup's own paper tunes this knob by
    * what survives; this row is that measurement.
    */
  def semDedupThresholdSweep(
      emb: DataFrame,
      thresholds: Seq[Double] = Seq(0.25, 0.35, 0.5, 0.7),
      nAnchors: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val (buckets, best) = semDedupCore(emb, nAnchors, dim, idCol, vecCol)
    semDedupThresholdSweepFromCore(buckets, best, thresholds)
  }

  /** [[semDedupThresholdSweep]] off a shared [[semDedupCore]]. */
  def semDedupThresholdSweepFromCore(
      buckets: DataFrame,
      best: DataFrame,
      thresholds: Seq[Double] = Seq(0.25, 0.35, 0.5, 0.7)
  ): DataFrame = {
    val nDocs = buckets.agg(count(lit(1)).as("n_docs"))
    thresholds.map { t =>
      best.filter(col("best_sim") >= t)
        .agg(count(lit(1)).as("n_dup"))
        .crossJoin(broadcast(nDocs)) // 1-row count
        .select(
          lit(math.round(t * 10000).toInt).as("threshold_bps"),
          col("n_docs"), col("n_dup"),
          expr("CAST((2 * 10000 * (n_docs - n_dup) + n_docs) div (2 * n_docs) AS INT)")
            .as("kept_bps"))
    }.reduce(_ unionByName _)
  }

  /** SemDeDup v2 — reciprocal-confidence semantic dedup. v1 ([[semDedup]])
    * flags any vector with a lower-id bucket-mate above the cosine
    * threshold: one-directional similarity, cheap to satisfy next to a hub
    * vector. v2 demands MUTUAL top-k membership first (the pair criterion
    * of [[mutualFromDirected]]) and only then applies the threshold, so a
    * hub's one-way admirers no longer flag each other — the
    * precision-leaning variant of the SemDeDup paper's pairing step.
    *
    * Composition: ONE directed ANN leg ([[ivfAnchorTopK]] — deterministic
    * anchors, so the whole decision replays under SQL) → mutuality join
    * (ids-only, O(N·k)) → threshold → keep-lowest-id flag. At corpus scale
    * swap the leg via [[mutualFromDirected]]; nothing downstream changes.
    */
  def semDedupMutual(
      emb: DataFrame,
      threshold: Double,
      k: Int = 5,
      nAnchors: Int = 16,
      nprobe: Int = 4,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    semDedupMutualFrom(
      emb, ivfAnchorTopK(emb, emb, k, nAnchors, nprobe, dim, idCol, vecCol),
      threshold, dim, idCol, vecCol)

  /** [[semDedupMutual]] with an injected directed top-k frame — the
    * injectable-leg contract of [[mutualFromDirected]]/[[lofFromDirected]],
    * so the registry can share ONE corpus-wide IVF top-5 build across the
    * mutual-NN, LOF, and SemDeDup-v2 faces (optimization r15).
    */
  def semDedupMutualFrom(
      emb: DataFrame,
      directedTopK: DataFrame,
      threshold: Double,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val flagged =
      mutualFromDirected(directedTopK)
        .filter(col("cos_sim") >= threshold)
        .select(col("id_b").as("id"))
        .distinct()
        .withColumn("is_dup", lit(1))
    emb
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"))
      .join(flagged, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("is_dup"), lit(0)).cast("int").as("is_dup"))
  }

  // -------------------------------------------------------------------- PQ

  /** Deterministic PQ codebooks: the `ksub` lowest-id corpus vectors,
    * micro-quantized — the same anchor trick as [[ivfAnchorTopK]] (a pure
    * function of the corpus, no RNG, bounded driver collect), so encoding,
    * ADC, and therefore the whole ANN answer are integer-exact and
    * SQL-reproducible. Production systems train these with per-subspace
    * k-means ([[trainIvfCentroids]] is the seeded trainer here); the
    * geometry of the operator — M subspaces, ksub codes, asymmetric
    * lookup — is identical either way.
    */
  private[ops] def pqCodebooksMicro(
      corpus: DataFrame,
      ksub: Int,
      dim: Int,
      idCol: String,
      vecCol: String
  ): Array[Array[Long]] = {
    val micro = transform(asDouble(col(vecCol)), x => floor(x * lit(1e6) + lit(0.5)).cast("long"))
    corpus
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("aid"), micro.as("av"))
      .orderBy(col("aid"))
      .limit(ksub)
      .collect()
      .map(_.getSeq[Long](1).toArray)
  }

  /** Integer L2 between a micro-vector column's subspace `m` slice and a
    * literal codebook slice. `subDim` components per subspace.
    */
  private def subD2(v: Column, cbSlice: Array[Long], m: Int, subDim: Int): Column =
    graft.functions.LongVecExpr.sqDist(slice(v, m * subDim + 1, subDim), typedLit(cbSlice.toSeq))

  /** Product-quantization ANN with asymmetric distance (ADC), FAISS-PQ
    * shape: split each vector into `nSub` subspaces, encode every corpus
    * vector as its nearest codebook entry per subspace (ties → lowest
    * code), and rank neighbors by the sum over subspaces of the integer L2
    * between the QUERY's raw subvector and the NEIGHBOR's reconstructed
    * code (asymmetric: queries are never quantized).
    *
    * 100 TB shape: encoding is a map-only projection (the codebook is a
    * literal — no join, no shuffle); each corpus vector crosses the
    * exchange as `nSub` small integers instead of `dim` floats (a 64-dim
    * float vector becomes 4 bytes of code), which is the entire point of
    * PQ — the candidate scoring working set shrinks ~64×. The ADC lookup
    * table is built per query against the same literal codebook, and the
    * top-k is a per-query window the optimizer runs as WindowGroupLimit.
    */
  def pqAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nSub: Int = 4,
      ksub: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(dim % nSub == 0, "dim must divide into nSub subspaces")
    val subDim = dim / nSub
    val cb = pqCodebooksMicro(corpus, ksub, dim, idCol, vecCol)
    require(cb.length == ksub, s"need $ksub codebook anchors, got ${cb.length}")
    val micro = (v: Column) =>
      transform(asDouble(v), x => floor(x * lit(1e6) + lit(0.5)).cast("long"))

    // code_m = argmin over codebook entries of subspace L2, tie → lowest
    // code (array_sort on (dist, code) structs, same trick as probeOrder).
    def codeFor(v: Column, m: Int): Column =
      element_at(
        array_sort(array((0 until ksub).map { c =>
          struct(subD2(v, cb(c).slice(m * subDim, (m + 1) * subDim), m, subDim).as("d"),
            lit(c).as("i"))
        }: _*)),
        1
      ).getField("i")

    val enc = corpus
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("neighbor_id"), micro(col(vecCol)).as("cv"))
      .select(
        col("neighbor_id"),
        array((0 until nSub).map(m => codeFor(col("cv"), m)): _*).as("codes"))

    // Per-query ADC lookup table: lut[m][c] = subspace L2 between the raw
    // query micro-subvector and codebook entry c.
    val lut = array((0 until nSub).map { m =>
      array((0 until ksub).map { c =>
        subD2(col("qv"), cb(c).slice(m * subDim, (m + 1) * subDim), m, subDim)
      }: _*)
    }: _*)
    val q = queries
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("query_id"), micro(col(vecCol)).as("qv"))
      .select(col("query_id"), lut.as("lut"))

    val adc = (0 until nSub)
      .map(m => element_at(element_at(col("lut"), m + 1), element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    enc
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ composite — the production ANN shape at 100 TB: IVF anchors
    * prune the corpus to `nprobe` buckets, PQ/ADC shortlists `shortlist`
    * candidates from codes alone (no float vectors touched), and only the
    * shortlist is reranked with exact cosine on the raw vectors. Spec-
    * verified for recall against [[bruteForceTopK]]; the PQ stage's math
    * is the oracle-anchored [[pqAdcTopK]].
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nAnchors: Int = 16,
      nprobe: Int = 4,
      nSub: Int = 4,
      ksub: Int = 8,
      shortlist: Int = 32,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(dim % nSub == 0, "dim must divide into nSub subspaces")
    val subDim = dim / nSub
    val cb = pqCodebooksMicro(corpus, ksub, dim, idCol, vecCol)
    require(cb.length == ksub, s"need $ksub codebook anchors, got ${cb.length}")
    val micro = (v: Column) =>
      transform(asDouble(v), x => floor(x * lit(1e6) + lit(0.5)).cast("long"))
    val anchors = corpus
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("aid"), micro(col(vecCol)).as("av"))
      .orderBy(col("aid"))
      .limit(nAnchors)
      .collect()
      .map(_.getSeq[Long](1).toArray)
    require(anchors.length == nAnchors,
      s"need $nAnchors IVF anchors, corpus only yielded ${anchors.length}")
    def d2Full(qv: Column, av: Array[Long]): Column =
      graft.functions.LongVecExpr.sqDist(qv, typedLit(av.toSeq))
    def probeOrder(qv: Column): Column =
      array_sort(array(anchors.zipWithIndex.map { case (av, i) =>
        struct(d2Full(qv, av).as("d"), lit(i).as("i"))
      }: _*))
    def codeFor(v: Column, m: Int): Column =
      element_at(
        array_sort(array((0 until ksub).map { c =>
          struct(subD2(v, cb(c).slice(m * subDim, (m + 1) * subDim), m, subDim).as("d"),
            lit(c).as("i"))
        }: _*)),
        1
      ).getField("i")

    val c = corpus
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("c_vec"),
        micro(col(vecCol)).as("cv"))
      .select(
        col("neighbor_id"), col("c_vec"),
        element_at(probeOrder(col("cv")), 1).getField("i").as("bucket"),
        array((0 until nSub).map(m => codeFor(col("cv"), m)): _*).as("codes"))

    val lut = array((0 until nSub).map { m =>
      array((0 until ksub).map { cc =>
        subD2(col("qv"), cb(cc).slice(m * subDim, (m + 1) * subDim), m, subDim)
      }: _*)
    }: _*)
    val q = queries
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("q_vec"),
        micro(col(vecCol)).as("qv"))
      .select(col("query_id"), col("q_vec"), lut.as("lut"),
        explode(slice(probeOrder(col("qv")), 1, nprobe)).as("probe"))
      .select(col("query_id"), col("q_vec"), col("lut"),
        col("probe").getField("i").as("bucket"))

    val adc = (0 until nSub)
      .map(m => element_at(element_at(col("lut"), m + 1), element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    val candidates = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_vec"), col("c_vec"),
        adc.as("adc_dist"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
    val scored = candidates.select(
      col("query_id"), col("neighbor_id"),
      round(cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Per-dimension embedding health stats — the drift/collapse check a
    * vector pipeline runs before trusting a new embedding batch: exact
    * micro-quantized sum and sum-of-squares per dimension (mean and
    * variance derive downstream; emitting the exact moments keeps the
    * hash-compare integer).
    *
    * Shape: ONE fixed-size buffer of length 2·dim per partition crosses
    * the exchange ([Σmicro | Σmicro²] through [[graft.functions.VecSumAgg]])
    * — the explode-by-dimension form would shuffle rows×dim rows. The
    * one-row result is checkpointed before the two reshape branches (the
    * usual double-reference discipline). Exactness bound: Σmicro² stays
    * under 2^53 for ~500k typical-magnitude rows per batch; beyond that,
    * widen to the explode+decimal form (same trade the BM25 long-range
    * note documents).
    */
  def dimStatsMicro(emb: DataFrame, dim: Int = 64, vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val mm = transform(asDouble(col(vecCol)), x => floor(x * 1000000 + lit(0.5)).cast("double"))
    val one = emb
      .filter(size(col(vecCol)) === dim)
      .select(concat(mm, transform(mm, y => y * y)).as("v"))
      .as[Seq[Double]]
      .select(new graft.functions.VecSumAgg().toColumn.name("r"))
      // the typed select flattens Result into (sums, n) columns
      .select(col("n"), posexplode(col("sums")).as(Seq("pos", "s")))
      .localCheckpoint(eager = true)
    val sums = one
      .filter(col("pos") < dim)
      .select((col("pos") + 1).cast("long").as("dim_i"), col("n"), col("s").cast("long").as("sum_micro"))
    val sqs = one
      .filter(col("pos") >= dim)
      .select((col("pos") - dim + 1).cast("long").as("dim_i"), col("s").cast("long").as("sumsq_micro"))
    sums.join(sqs, "dim_i").select(col("dim_i"), col("n"), col("sum_micro"), col("sumsq_micro"))
  }

  // --------------------------------------------------------------------- MMR

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    * greedily pick k items maximizing λ·relevance − (1−λ)·max-similarity-
    * to-already-selected — the standard diversity-aware rerank for RAG
    * context assembly and few-shot example selection, where the plain
    * top-k is often k near-copies of the same passage.
    *
    * Two-stage shape, same discipline as the IVF anchor path: the
    * DISTRIBUTED stage generates the candidate pool (brute-force cosine
    * top-N here; at 100 TB swap in the IVF/LSH leg — the rerank is
    * agnostic to how candidates arrived), then the greedy rerank runs on
    * a bounded driver collect of N relevances + N² pairwise similarities
    * (N = `nCandidates`, default 20 → 400 pairs; the collect is bounded
    * by the POOL geometry, not the corpus). MMR is inherently sequential
    * — each pick changes the penalty term — so distributing the k-step
    * loop would cost k job round-trips for k·N comparisons of work.
    *
    * Exactness: relevance and pairwise cosines are micro-quantized
    * (floor(round(cos,6)·1e6 + 0.5) — the proven-portable 6-dp family),
    * λ is expressed in tenths (`lambda10`/10), and every MMR score is
    * pure long arithmetic `lambda10·rel − (10−lambda10)·maxSim`; the
    * first pick carries no penalty term. Ties break by id ascending. The
    * whole selection sequence is therefore replayable by an unrolled SQL
    * oracle.
    */
  def mmrSelect(
      corpus: DataFrame,
      query: DataFrame,
      k: Int,
      nCandidates: Int = 20,
      lambda10: Int = 7,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(k > 0 && nCandidates >= k, "need nCandidates >= k > 0")
    require(lambda10 >= 0 && lambda10 <= 10, "lambda10 in [0, 10]")
    val spark = corpus.sparkSession
    import spark.implicits._
    def micro(c: Column): Column = floor(c * lit(1e6) + lit(0.5)).cast("long")

    // distributed: candidate pool by relevance (top-N exact cosine)
    val cands = bruteForceTopK(corpus, query, nCandidates, idCol, vecCol)
      .select(col("neighbor_id").as("id"), micro(col("cos_sim")).as("rel_micro"))
      .as[(Long, Long)]
      .collect()
      .sortBy(_._1)
    val candIds = cands.map(_._1)

    // distributed: pairwise similarities among the pool (N² bounded rows)
    val pool = corpus
      .filter(col(idCol).isin(candIds: _*))
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    val pairSims = pool.alias("a")
      .join(broadcast(pool.alias("b")), col("a.id") =!= col("b.id"))
      .select(
        col("a.id").as("ia"),
        col("b.id").as("ib"),
        micro(round(cosine(col("a.v"), col("b.v")), 6)).as("sim_micro"))
      .as[(Long, Long, Long)]
      .collect()
      .map { case (ia, ib, s) => (ia, ib) -> s }
      .toMap

    // driver: the sequential greedy loop over the bounded pool
    val selected = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    val remaining = scala.collection.mutable.LinkedHashSet(cands: _*)
    val relOf = cands.toMap
    for (round <- 1 to k if remaining.nonEmpty) {
      val best = remaining.iterator.map { case (id, rel) =>
        val score =
          if (selected.isEmpty) lambda10 * rel
          else {
            val maxSim = selected.iterator.map(s => pairSims((id, s._2))).max
            lambda10 * rel - (10 - lambda10) * maxSim
          }
        (id, score)
      }.maxBy { case (id, score) => (score, -id) }
      selected += ((round, best._1, best._2))
      remaining.remove((best._1, relOf(best._1)))
    }
    selected.toSeq.toDF("sel_rank", "vec_id", "mmr_score")
  }

  /** Top principal component of the embedding cloud — the dominant
    * direction of variance: near-rank-1 clouds flag collapsed/duplicated
    * embedding spaces, and the component itself is the first axis of any
    * PCA whitening or visualization step.
    *
    * Exactness: vectors quantize to integers once
    * ([[Clustering.quantize]], round half away from zero — the proven
    * kmeans convention); the centered scatter matrix is scale-free in the
    * power iteration, so it is used as the exact integer numerator
    * `A_ij = n·Σq_iq_j − Σq_i·Σq_j` with NO division; each of the fixed
    * `iters` power steps renormalizes by the max |component| with one
    * round-half-up exact division per entry (BigInt on the driver — no
    * float anywhere, the oracle unrolls the same steps). Output is
    * defined as the vector after exactly `iters` steps from the all-ones
    * start — deterministic whether or not the iteration has converged.
    *
    * Shape: the corpus-sized work is ONE aggregation through
    * [[graft.functions.CrossMomentAgg]] (a fixed d+d(d+1)/2-long buffer
    * per partition — never rows×d² exploded pairs); the d×d solve runs on
    * a DRIVER copy of that single bounded row (the markovStationary
    * discipline).
    */
  def topPrincipalComponent(
      vecs: DataFrame,
      vecCol: String = "embedding",
      scale: Long = 10000L,
      iters: Int = 8
  ): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val agg = org.apache.spark.sql.functions.udaf(new graft.functions.CrossMomentAgg())
    // bounded collect: one row of 1 + d + d(d+1)/2 longs
    val row = vecs
      .select(Clustering.quantize(col(vecCol), scale).as("q"))
      .agg(agg(col("q")).as("m"))
      .select(col("m.n"), col("m.sums"), col("m.cross"))
      .as[(Long, Seq[Long], Seq[Long])]
      .head()
    val (n, sums, cross) = row
    val d = sums.length
    val a = Array.ofDim[BigInt](d, d)
    for (i <- 0 until d; j <- i until d) {
      val c = BigInt(n) * cross(graft.functions.CrossMomentAgg.triIndex(i, j, d)) -
        BigInt(sums(i)) * sums(j)
      a(i)(j) = c
      a(j)(i) = c
    }
    // floor((2·10⁶·w + m) / (2m)) — ExactDecimal.scaledRatio in BigInt
    def sr(w: BigInt, m: BigInt): BigInt = {
      val q = w * 2000000 + m
      val d2 = m * 2
      (q - ((q % d2 + d2) % d2)) / d2
    }
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(j => (0 until d).map(i => a(i)(j) * v(i)).sum)
      val m = w.map(_.abs).max
      if (m > 0) v = w.map(sr(_, m))
    }
    (0 until d).map(j => (j, v(j).toLong)).toDF("dim", "pc_micro")
  }

  /** Top TWO principal directions by exact-integer power iteration with
    * deflation — the first two axes of the embedding scatter (PCA
    * whitening / ABTT "all-but-the-top" preprocessing both start here).
    * PC1 is [[topPrincipalComponent]]'s loop verbatim; PC2 runs the same
    * matvec but after each normalization projects out PC1 DIVISION-FREE:
    * `w′ = û·‖v₁‖² − (û·v₁)·v₁` — scaling by ‖v₁‖² instead of dividing
    * keeps every intermediate an exact integer (and inside HUGEINT for
    * the SQL replay: û ≤ 10⁶, ‖v₁‖² ≤ d·10¹², both products ≤ ~10²⁰),
    * then renormalizes. The whole trajectory is a pure function of the
    * scatter matrix, so the oracle unrolls it step for step.
    *
    * Scale shape: identical to the single-component form — ONE corpus
    * pass through the `CrossMomentAgg` buffer (1 + d + d(d+1)/2 longs per
    * partition), then d×d driver iteration; nothing corpus-sized leaves
    * the executors. Output: (component ∈ {1,2}, dim, pc_micro).
    */
  def topTwoPrincipalComponents(
      vecs: DataFrame,
      vecCol: String = "embedding",
      scale: Long = 10000L,
      iters: Int = 8
  ): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val (_, _, v1, v2) = pcPair(vecs, vecCol, scale, iters)
    ((v1.indices).map(j => (1, j, v1(j).toLong)) ++
      (v2.indices).map(j => (2, j, v2(j).toLong)))
      .toDF("component", "dim", "pc_micro")
  }

  /** Shared exact-PCA core: one CrossMomentAgg pass → (n, per-dim sums,
    * PC1, PC2) with the deflated power iteration of
    * [[topTwoPrincipalComponents]]. Driver state: the d×d scatter copy.
    */
  private def pcPair(
      vecs: DataFrame,
      vecCol: String,
      scale: Long,
      iters: Int
  ): (Long, Seq[Long], Array[BigInt], Array[BigInt]) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val agg = org.apache.spark.sql.functions.udaf(new graft.functions.CrossMomentAgg())
    val row = vecs
      .select(Clustering.quantize(col(vecCol), scale).as("q"))
      .agg(agg(col("q")).as("m"))
      .select(col("m.n"), col("m.sums"), col("m.cross"))
      .as[(Long, Seq[Long], Seq[Long])]
      .head()
    val (n, sums, cross) = row
    val d = sums.length
    val a = Array.ofDim[BigInt](d, d)
    for (i <- 0 until d; j <- i until d) {
      val c = BigInt(n) * cross(graft.functions.CrossMomentAgg.triIndex(i, j, d)) -
        BigInt(sums(i)) * sums(j)
      a(i)(j) = c
      a(j)(i) = c
    }
    def sr(w: BigInt, m: BigInt): BigInt = {
      val q = w * 2000000 + m
      val d2 = m * 2
      (q - ((q % d2 + d2) % d2)) / d2
    }
    def matvec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d)(j => (0 until d).map(i => a(i)(j) * v(i)).sum)
    def normalized(w: Array[BigInt], fallback: Array[BigInt]): Array[BigInt] = {
      val m = w.map(_.abs).max
      if (m > 0) w.map(sr(_, m)) else fallback
    }
    var v1 = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to iters) v1 = normalized(matvec(v1), v1)
    val nv1 = v1.map(x => x * x).sum
    var v2 = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val u = normalized(matvec(v2), v2)
      val dt = (0 until d).map(i => u(i) * v1(i)).sum
      val proj = Array.tabulate(d)(j => u(j) * nv1 - dt * v1(j))
      v2 = normalized(proj, u)
    }
    (n, sums, v1, v2)
  }

  /** All-but-the-top correction (Mu & Viswanath 2018): centered vectors
    * with the dominant principal direction projected out — the standard
    * repair when [[embeddingAnisotropy]] reports a rogue PC1 share. Every
    * step is division-free so the output is an exact integer vector (in
    * double storage):
    *
    *   - centering scales every vector by the same n:  c = n·q − Σq,
    *   - PC1 is re-quantized to MILLI units (round-half-up, so the
    *     corrected elements stay far inside double-exact range),
    *   - deflation scales by ‖v₁ₘ‖²:  c′ = ‖v₁ₘ‖²·c − (c·v₁ₘ)·v₁ₘ.
    *
    * Cosine is invariant to the two uniform scalings, so downstream ANN
    * over c′ IS the ABTT-corrected similarity. By construction
    * c′·v₁ₘ = 0 exactly (spec-pinned). Map-only after the shared moment
    * pass; the corrected frame feeds any ANN leg unchanged.
    */
  def abttCorrected(
      emb: DataFrame,
      scale: Long = 1000L,
      iters: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val (n, sums, v1, _) = pcPair(emb, vecCol, scale, iters)
    def rhuMilli(x: BigInt): Long = {
      val q = x * 2 + 1000
      val d2 = BigInt(2000)
      ((q - ((q % d2 + d2) % d2)) / d2).toLong
    }
    val v1m: Seq[Long] = v1.map(rhuMilli).toSeq
    val b1m: Long = v1m.map(x => x * x).sum
    val centered = zip_with(
      Clustering.quantize(col(vecCol), scale),
      typedLit(sums),
      (x, s) => x * lit(n) - s)
    val dotm = aggregate(
      zip_with(centered, typedLit(v1m), (c, p) => c * p),
      lit(0L), (acc, x) => acc + x)
    // Bind the per-row dot as a LAMBDA VARIABLE (array-of-one transform):
    // a plain column reference would be inlined into the zip_with body by
    // CollapseProject and re-evaluated per element — turning the row cost
    // quadratic (the wordShingles lesson: lambda bodies get no
    // subexpression elimination).
    val corrected = element_at(
      transform(
        array(dotm),
        d => zip_with(centered, typedLit(v1m), (c, p) => lit(b1m) * c - d * p)),
      1)
    emb
      .filter(size(col(vecCol)) === sums.length)
      .select(col(idCol), corrected.cast("array<double>").as("abtt_vec"))
  }

  /** Anisotropy of the embedding cloud — the diagnostic behind
    * "all-but-the-top" postprocessing (Mu & Viswanath 2018): how much of
    * the total CENTERED variance the top two principal directions carry.
    * A well-spread (isotropic) embedding space scores low; a high PC1
    * share means one rogue direction dominates every cosine and should be
    * projected out before similarity search.
    *
    * Exactness: vectors quantized at `scale`; centering is division-free
    * (`c = n·q − Σq`, every vector scaled by the same n); per-vector dot
    * products with the micro PCs are exact longs, their squares
    * accumulate in DECIMAL(38,0); the final shares are round-half-up
    * integer rationals `10⁴·Σ(c·v)² / (‖v‖²·Σ‖c‖²)` — bit-identical in
    * any engine. One moment pass (shared with PC extraction) + one
    * projection pass; nothing corpus-sized on the driver.
    */
  def embeddingAnisotropy(
      vecs: DataFrame,
      vecCol: String = "embedding",
      scale: Long = 1000L,
      iters: Int = 8
  ): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val (n, sums, v1, v2) = pcPair(vecs, vecCol, scale, iters)
    val centered = zip_with(
      Clustering.quantize(col(vecCol), scale),
      typedLit(sums),
      (x, s) => x * lit(n) - s)
    def dotLit(v: Array[BigInt]) =
      aggregate(
        zip_with(centered, typedLit(v.map(_.toLong).toSeq), (c, p) => c * p),
        lit(0L), (acc, x) => acc + x)
    val dec = DecimalType(38, 0)
    val rowAgg = vecs
      .filter(size(col(vecCol)) === sums.length) // same exclusion as CrossMomentAgg
      .select(
        dotLit(v1).cast(dec).as("d1"),
        dotLit(v2).cast(dec).as("d2"),
        aggregate(centered, lit(0L), (acc, x) => acc + x * x).cast(dec).as("cn2"))
      .agg(sum(col("d1") * col("d1")).as("a1"), sum(col("d2") * col("d2")).as("a2"),
        sum(col("cn2")).as("c"))
      .head()
    val (a1, a2, cSum) =
      (BigInt(rowAgg.getDecimal(0).toBigInteger),
        BigInt(rowAgg.getDecimal(1).toBigInteger),
        BigInt(rowAgg.getDecimal(2).toBigInteger))
    val b1 = v1.map(x => x * x).sum
    val b2 = v2.map(x => x * x).sum
    def shareBps(a: BigInt, b: BigInt): Long =
      if (b == 0 || cSum == 0) 0L
      else ((a * 20000 + b * cSum) / (b * cSum * 2)).toLong // all non-negative: trunc = floor
    Seq((n, shareBps(a1, b1), shareBps(a2, b2)))
      .toDF("n_vectors", "share_pc1_bps", "share_pc2_bps")
  }
}
