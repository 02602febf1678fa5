package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design:
  *   - Exact dedup shuffles once on a 128-bit content hash (never on the
  *     full text), so the exchange carries 16-byte keys at 100 TB.
  *   - MinHash signatures and SimHash fingerprints are per-row map work
  *     (higher-order array expressions, no UDFs, no shuffle).
  *   - LSH candidate generation explodes each doc into `bands` rows keyed by
  *     (band, bandHash) — a self-equi-join on that key is a plain shuffle
  *     join Spark executes as exchange + sort-merge, with AQE handling
  *     skewed buckets. Bucket size is capped to bound the worst-case O(b²)
  *     pair blowup from degenerate buckets (boilerplate text at web scale).
  */
object Dedup {

  /** Incremental (delta) dedup: tag each new-batch document as a duplicate
    * of the prior snapshot or as genuinely new — the daily-crawl shape,
    * where re-deduplicating the full corpus per increment is the thing a
    * pipeline must NOT do.
    *
    * 100 TB shape: the snapshot's text-hash set is far too big to
    * broadcast, and a plain anti-join would shuffle the whole batch on the
    * hash. Instead the snapshot set is compiled into a constant-size
    * [[graft.ops.Bloom]] filter (one aggregation over snapshot hashes →
    * mBits/64 longs on the driver) and probed MAP-ONLY over the batch; only
    * bloom-positive rows — true dups plus the small false-positive residue
    * — enter the exact membership join. Bloom-negative rows are PROVABLY
    * new (no false negatives), so the expensive exchange carries only the
    * candidate sliver. The two map-only passes over the batch (negative
    * branch + positive branch) are the deliberate trade: scans are cheap,
    * a full-batch shuffle is not.
    *
    * Output per batch doc: (id, bloom_hit, is_dup) — bloom_hit=1/is_dup=0
    * rows are the filter's false positives, resolved exactly by the join.
    * In-batch duplicate grouping is a separate concern: compose with
    * [[dedupExact]] downstream.
    */
  def deltaDedup(
      batch: DataFrame,
      snapshot: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      mBits: Int = 4096,
      kHash: Int = 3
  ): DataFrame =
    deltaDedupHashes(
      batch.select(col(idCol), md5(col(textCol)).as("h")),
      snapshot, idCol, textCol, mBits, kHash)

  /** [[deltaDedup]] off an ALREADY-hashed batch frame `(idCol, h)` — for
    * callers that have the batch md5 in hand ([[incrementalIngestReport]]
    * projects it once for every stage); skips one full batch text pass.
    */
  def deltaDedupHashes(
      bHash: DataFrame,
      snapshot: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      mBits: Int = 4096,
      kHash: Int = 3
  ): DataFrame = {
    val snapHashes = snapshot.select(md5(col(textCol)).as("h")).distinct()
    val bits = Bloom.buildBits(snapHashes, "h", mBits, kHash)
    val pre = bHash.withColumn(
      "bloom_hit",
      Bloom.member(col("h"), bits, mBits, kHash).cast("int"))
    val positives = pre
      .filter(col("bloom_hit") === 1)
      .join(snapHashes.withColumn("in_snap", lit(1)), Seq("h"), "left")
      .select(col(idCol), col("bloom_hit"), coalesce(col("in_snap"), lit(0)).as("is_dup"))
    val negatives = pre
      .filter(col("bloom_hit") === 0)
      .select(col(idCol), col("bloom_hit"), lit(0).as("is_dup"))
    negatives.union(positives)
  }

  // ---------------------------------------------------------------- exact

  /** One row per distinct content hash: representative (min) id + copy count.
    * Group key is md5 so the shuffle moves hashes, not documents.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep exactly one row per distinct text (the min-id representative).
    * `min_by` aggregation, not a row_number window: partial aggregation
    * keeps ONE candidate row per (hash, map partition) before the exchange
    * — the window form shuffles and sorts every duplicate copy.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("_h"))
      .agg(min_by(struct(docs.columns.map(col): _*), col(idCol)).as("_row"))
      .select(col("_row.*"))

  /** The exact-dedup SURVIVOR ids alone — the decide-with-small-rows form
    * of [[dropExactDuplicates]] (guide §8): the election shuffles
    * (hash, id) pairs, never document text, and the survivors attach back
    * by a semi-join on the id. `docs.join(exactKeepIds(docs), Seq(idCol),
    * "left_semi")` is row-identical to [[dropExactDuplicates]] when ids
    * are unique (spec-pinned in DedupSpec) — the shape the registry's
    * shared leg pins (ids only, scale-safe) so seven curation chains stop
    * re-running the full-text min_by exchange each (optimization r16).
    */
  def exactKeepIds(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))

  // -------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles of the lower-cased text; empty array for
    * texts shorter than n tokens (mirrors the oracle's CASE guard).
    *
    * The token array is BOUND AS A LAMBDA VARIABLE (via a singleton-array
    * transform) instead of inlined: lambda bodies get no subexpression
    * elimination, so a naive `element_at(split(...), i+j)` per gram slot
    * re-splits the whole text once per slot — O(len²) per doc, measured
    * 20× slower on the sf0.1 corpus.
    */
  def wordShingles(text: Column, n: Int): Column =
    element_at(
      transform(
        array(split(lower(text), "\\s+")),
        toks => {
          val grams = transform(
            sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)
          )
          when(size(toks) >= n, array_distinct(grams))
            .otherwise(array().cast("array<string>"))
        }
      ),
      1
    )

  /** 64-bit hashes of the shingle set (xxhash64, seeded by Spark). */
  def shingleHashes(text: Column, n: Int): Column =
    transform(wordShingles(text, n), s => xxhash64(s))

  // --------------------------------------------------------------- minhash

  /** MinHash signature: for each of `numHashes` universal hash functions,
    * the min over the doc's shingle hashes. Pure array expressions — the
    * whole signature computes in one codegen'd projection.
    *
    * Signature from an already-materialized shingle-hash column. Keep the
    * shingles in their own projection and feed a plain column reference here:
    * the 64 per-hash expressions then share one shingle computation instead
    * of re-deriving the whole tokenize→shingle→hash pipeline 64 times.
    */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int = 64, seed: Long = 42L): Column = {
    // Family member j = xxhash64 re-hash seeded by (seed, j): overflow-free
    // (ANSI-safe), engine-native, and as uniform as the affine family.
    val perHash = (0 until numHashes).map { j =>
      array_min(transform(hashes, h => xxhash64(lit(seed), lit(j), h)))
    }
    when(size(hashes) > 0, array(perHash: _*)).otherwise(lit(null).cast("array<bigint>"))
  }

  /** Native one-pass form of the compositional pipeline above — bit-identical
    * results (see [[graft.functions.MinhashSig]]), ~500× cheaper per row.
    */
  def minhashSignature(text: Column, shingleN: Int = 3, numHashes: Int = 64, seed: Long = 42L): Column =
    graft.functions.MinhashSig.column(text, shingleN, numHashes, seed)

  /** All ordered pairs (a_i, a_j), i<j, of a sorted id array — as a single
    * array expression, so bucket-pair generation never leaves the executor.
    * Shared with the banded time-series neighbor search
    * ([[TimeSeries.allPairsNeighbors]]), whose bucket→pair stage is the
    * same shape.
    */
  private[ops] def orderedPairs(sortedIds: Column): Column =
    flatten(
      transform(
        sortedIds,
        (a, i) =>
          transform(
            slice(sortedIds, i + 2, size(sortedIds)),
            b => struct(a.as("id_a"), b.as("id_b"))
          )
      )
    )

  /** LSH band keys: hash each of `bands` contiguous signature slices. A pair
    * of docs lands in the same (band, band_hash) bucket iff a band matches —
    * the classic MinHash-LSH candidate filter.
    */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    // Band index + the band's signature slice, hashed directly as longs (no
    // string building). The band index inside the hash keys buckets globally,
    // so downstream grouping needs only the hash; a cross-band collision can
    // only create a spurious candidate, which exact-Jaccard verification
    // removes.
    val perBand = (0 until bands).map { b =>
      val elems = (1 to rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r))
      xxhash64((lit(b.toLong) +: elems): _*)
    }
    array(perBand: _*)
  }

  /** Candidate near-duplicate pairs via MinHash LSH, verified with exact
    * Jaccard over shingle hash sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, one row per pair.
    *
    * @param maxBucket degenerate-bucket cap: buckets larger than this are
    *                  dropped (at web scale these are boilerplate; pairing
    *                  them is O(b²) for no dedup value).
    *
    * @param materialize eager local checkpoint of the (tiny) verified pair
    *                     set so intermediate caches can be released before
    *                     returning; pass false to get the raw lazy plan
    *                     (plan inspection, composition into a larger job).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.0,
      maxBucket: Int = 1000,
      seed: Long = 42L,
      materialize: Boolean = true
  ): DataFrame = {
    // Stages 1+2 fused: text → band bucket hashes in ONE native call per row
    // (no signature array materialized, no shingle materialization on the
    // full corpus — shingles are only computed later, for candidate docs),
    // exploded to (band_hash, id) — ids only, no payload. Bit-identical to
    // lshBandHashes∘minhashSignature (spec-asserted in DedupSpec).
    val banded = docs
      .select(
        col(idCol).as("id"),
        graft.functions.MinhashSig.bandsColumn(col(textCol), shingleN, numHashes, bands, seed).as("bhs")
      )
      .filter(col("bhs").isNotNull)
      .select(col("id"), explode(col("bhs")).as("band_hash"))
    // Stage 3: one shuffle groups buckets; pair-generation happens inside an
    // array expression (never a self-join carrying document payloads).
    // Degenerate buckets (> maxBucket) are dropped: at web scale those are
    // boilerplate and pairing them is O(b²) for no dedup value.
    // Persisted while the result materializes: the cached pair set (bare ids
    // — tiny relative to the corpus) has a known size, so the planner
    // broadcasts it into both verification joins. Unpersisted in the finally
    // below — repeated invocations must not leak cached tables into the
    // session (the CacheManager holds entries until explicit unpersist).
    val pairs = banded
      .groupBy(col("band_hash"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(orderedPairs(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Stage 4: exact-Jaccard verification. The (small, persisted) pair set
    // joins straight to the docs table on each side — AQE broadcasts the
    // pair side, the corpus streams through both joins — and shingles are
    // computed AFTER the join, so the expensive shingle projection runs once
    // per candidate pair side, never over the corpus.
    val docsA = docs.select(col(idCol).as("id_a"), col(textCol).as("t_a"))
    val docsB = docs.select(col(idCol).as("id_b"), col(textCol).as("t_b"))
    val verified = pairs
      .join(docsA, Seq("id_a"))
      .join(docsB, Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        graft.functions.MinhashSig.setColumn(col("t_a"), shingleN).as("sh_a"),
        graft.functions.MinhashSig.setColumn(col("t_b"), shingleN).as("sh_b")
      )
      .select(
        col("id_a"),
        col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
    if (!materialize) verified
    else
      // Materialize eagerly under the cache (the verified pair set is tiny —
      // executor-local checkpoint blocks, GC'd by the ContextCleaner once the
      // frame is unreferenced), so the cache can be dropped before returning.
      try verified.localCheckpoint(eager = true)
      finally pairs.unpersist(blocking = false)
  }

  // -------------------------------------------------------------- clusters

  /** Near-duplicate clusters from a pair set: connected components via
    * min-label propagation. Each node's label converges to the smallest doc
    * id in its component — the cluster representative.
    *
    * Scale: each iteration is one join + one aggregation, O(component
    * diameter) iterations (near-dup components are shallow — dup clusters
    * are near-cliques, so convergence is typically 2-3 rounds). Lineage is
    * truncated per iteration (`localCheckpoint`), keeping plans flat. For
    * adversarial chain-shaped graphs swap in large-star/small-star; the
    * interface doesn't change.
    *
    * Returns (id, cluster) with cluster = min id of the component.
    */
  def nearDupClusters(pairs: DataFrame, maxIterations: Int = 25): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Seed with the direct-neighborhood minimum (one aggregation, no join):
    // for clique-shaped dup clusters — the common case — labels start
    // converged and the loop exits after a single verification round.
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("cluster"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIterations) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("dst_cluster")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("dst_cluster")).as("neighbor_min"))
      val updated = labels
        .join(neighborMin.select(col("src").as("id"), col("neighbor_min")), Seq("id"), "left")
        .select(
          col("id"),
          col("cluster"),
          least(col("cluster"), coalesce(col("neighbor_min"), col("cluster"))).as("next_cluster")
        )
        .localCheckpoint()
      changed = updated.filter(col("next_cluster") =!= col("cluster")).count()
      labels = updated.select(col("id"), col("next_cluster").as("cluster"))
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Incremental NEAR-dup against an indexed snapshot — the daily-crawl
    * production shape [[deltaDedup]] covers for exact hashes, lifted to
    * MinHash: the snapshot's band keys are the INDEX (built once,
    * persisted in production — the checkpoint stands in), each new-batch
    * document probes ONLY its own band buckets, and exact-Jaccard verify
    * runs on batch×snapshot candidates alone. The snapshot is never
    * paired against itself — cost scales with the batch, not the corpus,
    * which is the whole point at 100 TB (re-running the symmetric
    * pipeline over corpus+batch would redo the corpus² work daily).
    *
    * Hot INDEX buckets above `maxBucket` are dropped before probing
    * (boilerplate protection, same rationale as the symmetric
    * pipeline's cap; unlike it there is no lower bound — a size-1
    * snapshot bucket still serves probes). Everything md5-anchored, so
    * the full decision replays under the SQL oracle.
    *
    * Output: one row per batch doc — match count at `threshold`, best
    * match (ties (jaccard desc, snap_id asc)), and the dup flag.
    */
  def deltaNearDupMd5(
      batch: DataFrame,
      snapshot: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = 1000
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def bandKeys(docs: DataFrame, out: String) = docs
      .select(
        col(idCol).as(out),
        graft.functions.MinhashMd5Sig.column(col(textCol), shingleN, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .select(
        col(out),
        explode(array((0 until bands).map { b =>
          struct(
            (lit(b).as("b") +: (1 to r).map(i => element_at(col("sig"), b * r + i).as(s"m$i"))): _*)
        }: _*)).as("bk"))
    val sb = bandKeys(snapshot, "snap_id").localCheckpoint(eager = true) // the index
    val hot = sb.groupBy(col("bk")).agg(count(lit(1)).as("c"))
      .filter(col("c") > maxBucket).select(col("bk"))
    val cand = bandKeys(batch, "batch_id")
      .join(sb.join(hot, Seq("bk"), "left_anti"), Seq("bk"))
      .select(col("batch_id"), col("snap_id"))
      .dropDuplicates("batch_id", "snap_id")
      .localCheckpoint(eager = true) // candidate-pair-sized ids
    // Optimization r16 (guide §2.3, project before the heavy work): the
    // exact-Jaccard verify needs shingle SETS only for docs that appear
    // in a candidate pair, but a plain `cand ⋈ allSets` plan computes the
    // set projection for EVERY row before the join probe drops it —
    // at 100 TB that is a full corpus re-shingle for a candidate sliver.
    // Semi-joining each side to the (checkpointed, bounded) candidate ids
    // FIRST makes the expensive projection candidate-sized; rows pruned
    // this way could never survive the verify join, so results are
    // identical.
    val bSet = batch
      .join(cand.select(col("batch_id")).distinct(), col(idCol) === col("batch_id"), "left_semi")
      .select(
        col(idCol).as("batch_id"),
        graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("hb"))
    val sSet = snapshot
      .join(cand.select(col("snap_id")).distinct(), col(idCol) === col("snap_id"), "left_semi")
      .select(
        col(idCol).as("snap_id"),
        graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("hsn"))
    val good = cand
      .join(bSet, Seq("batch_id"))
      .join(sSet, Seq("snap_id"))
      .select(
        col("batch_id"),
        col("snap_id"),
        (size(array_intersect(col("hb"), col("hsn"))).cast("double") /
          size(array_union(col("hb"), col("hsn")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy(col("batch_id"))
    val best = good
      .withColumn("n_matches", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("jaccard").desc, col("snap_id"))))
      .filter(col("rn") === 1)
      .select(
        col("batch_id"), col("n_matches"),
        col("snap_id").as("best_match_id"), col("jaccard").as("best_jaccard"))
    batch.select(col(idCol).as("batch_id"))
      .join(best, Seq("batch_id"), "left")
      .select(
        col("batch_id").as(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match_id"),
        col("best_jaccard"),
        col("best_match_id").isNotNull.cast("int").as("is_dup"))
  }

  /** Transitive-merge quality audit of a near-dup clustering: per
    * multi-member cluster, the member count, the observed intra-cluster
    * pair count, the WEAKEST observed link (`min_jaccard` — a cluster
    * built on one 0.80 bridge between two tight cliques is a chaining
    * artifact, not a duplicate group), and the pair-coverage density in
    * bps (observed pairs / C(n,2); 10000 = every pair was independently
    * verified, low = the merge leans on transitivity). This is the read
    * a pipeline checks before keep-one-per-cluster deletion — the dedup
    * family's analogue of the ANN recall rows.
    *
    * Shape: one ids-only join of the pair frame to the label frame +
    * two cluster-keyed aggregations — both inputs are already bounded
    * (pairs ≪ corpus by banding, labels = corpus ids); nothing rescans
    * text. `min`/`max` of the exact-ratio jaccard doubles are
    * order-independent, so the cross-engine hash holds.
    */
  def nearDupClusterDiameter(pairs: DataFrame, clusters: DataFrame): DataFrame = {
    val sizes = clusters
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    val intra = pairs
      .join(clusters.select(col("id").as("id_a"), col("cluster")), Seq("id_a"))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_intra_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
    sizes
      .join(intra, Seq("cluster"), "left")
      .select(
        col("cluster"),
        col("n_members"),
        coalesce(col("n_intra_pairs"), lit(0L)).as("n_intra_pairs"),
        col("min_jaccard"),
        col("max_jaccard"),
        expr("CAST((2 * 10000 * coalesce(n_intra_pairs, 0)" +
          " + ((n_members * (n_members - 1)) div 2))" +
          " div (2 * ((n_members * (n_members - 1)) div 2)) AS INT)").as("density_bps"))
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * O(log n) rounds regardless of component shape, vs min-label
    * propagation's O(diameter). Prefer this when pair graphs may be
    * chain-shaped (transitive near-dup chains across a shingled corpus);
    * [[nearDupClusters]] seeds converged for the clique-shaped common case.
    *
    *   - large-star: every node attaches its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself).
    *   - small-star: every node attaches its smaller-or-equal neighbors and
    *     itself to that minimum.
    *
    * Each round is two groupBy-explode passes over the (symmetric) edge
    * list — pure hash shuffles on node id, array-expression edge emission,
    * lineage truncated per round. Converges when the edge multiset is
    * stable; final state is a star per component centered on its min id.
    *
    * Returns (id, cluster), cluster = min id of the component — same
    * contract as [[nearDupClusters]] (equivalence spec-asserted).
    */
  def nearDupClustersStar(pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import org.apache.spark.storage.StorageLevel

    def symmetric(e: DataFrame): DataFrame =
      e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()

    // Between passes a multiset is fine — collect_set dedups neighborhoods —
    // so skip the distinct's extra shuffle; full `symmetric` (set semantics)
    // is only needed where the convergence fingerprint reads the edges.
    def symmetricMulti(e: DataFrame): DataFrame =
      e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))

    // One star round: per node u, m = min(N(u) ∪ {u}); emit (v, m) for the
    // selected neighbors v (larger for large-star; smaller-or-equal plus u
    // itself for small-star). Emission happens inside array expressions —
    // no per-edge driver work, one shuffle per pass.
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val grouped = e
        .groupBy(col("src").as("u"))
        .agg(collect_set(col("dst")).as("nbrs"))
        .select(
          col("u"),
          least(col("u"), array_min(col("nbrs"))).as("m"),
          col("nbrs")
        )
      val targets =
        if (large) filter(col("nbrs"), v => v > col("u"))
        else array_union(filter(col("nbrs"), v => v <= col("u")), array(col("u")))
      grouped
        .select(col("m"), explode(targets).as("v"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
    }

    var edges = symmetric(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    // Multiset fingerprint of the canonical (undirected) edge set: stable
    // fingerprint+count ⇒ converged.
    def fingerprint(e: DataFrame): (Long, Long) = {
      val row = e
        .filter(col("src") < col("dst"))
        .agg(
          count(lit(1)).as("n"),
          // Order-independent, overflow-free multiset fingerprint (ANSI-safe;
          // a sum of hashes would overflow).
          coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h")
        )
        .head()
      (row.getLong(0), row.getLong(1))
    }
    var fp = fingerprint(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      // Re-symmetrize between passes: each pass reads neighborhoods via
      // groupBy(src), which only sees a node's full neighborhood when both
      // edge directions are present.
      val next = symmetric(star(symmetricMulti(star(edges, large = true)), large = false))
        .localCheckpoint()
      val nextFp = fingerprint(next)
      edges.unpersist()
      edges = next
      converged = nextFp == fp
      fp = nextFp
      iter += 1
    }
    // Star state: every node's component min is the minimum of (self,
    // neighbors).
    val labels = edges
      .groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("cluster"))
    labels
  }

  /** Corpus minus near-duplicates: every doc that is NOT its cluster's
    * min-id representative is dropped (docs in no pair survive untouched).
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame =
    dropNearDuplicatesFromClusters(docs, nearDupClusters(pairs), idCol)

  /** [[dropNearDuplicates]] off an already-built (possibly memoized)
    * cluster frame — optimization r15: the registry shares ONE
    * min-label-propagation run across every face that reads the md5
    * near-dup clustering instead of re-iterating it per query per pass.
    */
  def dropNearDuplicatesFromClusters(
      docs: DataFrame, clusters: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val losers = clusters
      .filter(col("cluster") =!= col("id"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dup dedup with QUALITY-AWARE survivor selection: within each
    * near-dup cluster the member with the highest `score` survives (ties
    * break to the lowest id) instead of the arbitrary min-id pick — the
    * policy real curation pipelines want, since near-duplicates are NOT
    * byte-identical and one copy is usually cleaner than the rest.
    *
    * `score(docs)` must yield (idCol, "score"). Shapes: winner election is
    * a `max_by` aggregation per cluster (one candidate per partition
    * crosses the exchange), losers anti-join back — ids only, never text.
    */
  def dropNearDuplicatesKeepBest(
      docs: DataFrame,
      pairs: DataFrame,
      scored: DataFrame,
      idCol: String = "doc_id"
  ): DataFrame =
    dropNearDuplicatesKeepBestFromClusters(docs, nearDupClusters(pairs), scored, idCol)

  /** [[dropNearDuplicatesKeepBest]] off an already-built cluster frame —
    * same sharing rationale as [[dropNearDuplicatesFromClusters]].
    */
  def dropNearDuplicatesKeepBestFromClusters(
      docs: DataFrame,
      clusters: DataFrame,
      scored: DataFrame,
      idCol: String = "doc_id"
  ): DataFrame = {
    val members = clusters
      .join(scored.select(col(idCol).as("id"), col("score")), Seq("id"))
    val winners = members
      .groupBy(col("cluster"))
      .agg(max_by(col("id"), struct(col("score"), -col("id"))).as("keep_id"))
    val losers = members
      .join(winners, Seq("cluster"))
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Cross-source duplication matrix — the provenance diagnostic behind
    * every mirror-site / content-farm investigation: for each unordered
    * source pair, how many duplicate pairs span it. `pairs` is any
    * (id_a, id_b) dup-pair frame (exact, MinHash, SimHash…), so the
    * matrix composes with every dedup family in this module.
    *
    * Shape: the ids-only pair frame joins the (id, source) map twice —
    * two hash exchanges on the id column, then a sources²-bounded
    * aggregation. The corpus text never moves; at 100 TB the heavy side
    * is the pair frame, which the upstream dedup already bounded.
    */
  def crossSourceDupMatrix(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      srcCol: String = "source"
  ): DataFrame = {
    val src = docs.select(col(idCol), col(srcCol))
    pairs
      .join(src.select(col(idCol).as("id_a"), col(srcCol).as("sa")), "id_a")
      .join(src.select(col(idCol).as("id_b"), col(srcCol).as("sb")), "id_b")
      .select(
        least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes. Near-duplicate docs differ in few bits (compare via hamming).
    * Native one-pass expression; bit-identical to [[simhash64Composed]]
    * (regression spec asserts equality).
    */
  def simhash64(text: Column): Column = graft.functions.SimhashExpr.column(text)

  /** Compositional (higher-order-function) form of [[simhash64]] — kept as
    * the executable specification the native expression is checked against.
    */
  def simhash64Composed(text: Column): Column = {
    val masks = array((0 until 64).map(j => lit(1L << j)): _*)
    val tokHashes = transform(array_distinct(split(lower(text), "\\s+")), t => xxhash64(t))
    val votes = aggregate(
      tokHashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, masks, (a, m) => a + when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1))
    )
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L),
      (acc, bit) => acc.bitwiseOR(bit)
    )
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs: candidates share at least one of `chunks`
    * exact fingerprint chunks (pigeonhole: any pair within hamming distance
    * < `chunks` must agree on some chunk), then verified by exact hamming ≤
    * `maxHamming`. Same one-shuffle bucket-join shape as [[minhashPairs]] —
    * ids explode to (chunk bucket), pairs generate inside the bucket array,
    * fingerprints join back only for the candidate set.
    *
    * Default 4 chunks × 16 bits guarantees recall for maxHamming ≤ 3.
    *
    * @param materialize as in [[minhashPairs]] — pass false for the raw
    *                     lazy plan (no checkpoint, caches left registered).
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      chunks: Int = 4,
      maxBucket: Int = 10000,
      materialize: Boolean = true
  ): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    val w = 64 / chunks
    // Persisted: fps feeds three consumers (banding + both verification
    // sides) and DataFrame lineage has no common-subplan reuse — without
    // the cache each consumer re-scans the corpus text and recomputes
    // every fingerprint. The cached table is 16 bytes/doc; unpersisted in
    // the finally below once the (tiny) verified pair set has materialized,
    // so repeated invocations don't leak cached tables into the session.
    val fps = docs
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunkKeys = (0 until chunks).map { c =>
      // chunk value + index packed into one bucket key
      struct(lit(c).as("c"), shiftrightunsigned(col("fp"), c * w).bitwiseAND(lit((1L << w) - 1)).as("v"))
    }
    val banded = fps.select(col("id"), explode(array(chunkKeys: _*)).as("ck"))
    val pairs = banded
      .groupBy(col("ck"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(orderedPairs(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Verification joins the per-doc fingerprint table (8-byte values,
    // broadcastable) rather than recomputing per pair: SimHash's exact
    // chunk-match candidates are DENSE on near-dup-heavy corpora — pair
    // count can exceed doc count — so compute-per-doc-then-join wins here,
    // the opposite trade from minhashPairs' sparse candidates.
    val fA = fps.select(col("id").as("id_a"), col("fp").as("fp_a"))
    val fB = fps.select(col("id").as("id_b"), col("fp").as("fp_b"))
    val verified = pairs
      .join(fA, Seq("id_a"))
      .join(fB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("fp_a"), col("fp_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    if (!materialize) verified
    else
      try verified.localCheckpoint(eager = true)
      finally fps.unpersist(blocking = false)
  }

  // ------------------------------------------------------- passage dedup

  /** Non-overlapping `n`-token passages of the lower-cased text (full chunks
    * only — a trailing partial chunk is dropped so passage identity is
    * stable under suffix growth). The substring-level dedup unit: exact
    * passage dedup across a corpus catches boilerplate that document-level
    * hashing misses (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" — exact-substring dedup).
    */
  def passages(text: Column, n: Int): Column = {
    val toks = split(lower(text), "\\s+")
    when(
      size(toks) >= n,
      transform(
        sequence(lit(0), (size(toks) / n).cast("int") - 1),
        i => concat_ws(" ", (1 to n).map(j => element_at(toks, i * n + j)): _*)
      )
    ).otherwise(array().cast("array<string>"))
  }

  /** 128-bit passage identities: per n-token group, a PAIR of xxhash64
    * values hashed straight off the token slots — the passage string is
    * never materialized (no concat_ws allocation) and never shuffled (16
    * bytes cross the exchange instead of the ~n-word text). Two
    * INDEPENDENT hashes (the second chains an extra literal so it is not a
    * function of the first): two distinct passages collide only if both
    * 64-bit hashes collide simultaneously — a 2^-128 birthday bound, the
    * same "effectively injective" footing the md5-anchored oracles stand
    * on. [[PassageQuantSpec]] pins hash-keyed [[passageShareStats]] output
    * equal to a string-keyed evaluation of the same stats.
    *
    * Hashes a PRE-SPLIT token array column. Feed an
    * attribute (tokens projected in their own select), not the split
    * expression inline: the hash lambda reads the token array once per
    * slot, and subexpression elimination does NOT reach across a lambda
    * boundary inside a generator — an inline split re-runs the whole-text
    * regex for every slot of every exploded passage (measured 12× on the
    * sf0.1 corpus: 5.6 s → 0.46 s for the exploded frame).
    */
  def passageHashesFromTokens(toks: Column, n: Int): Column = {
    def slots(i: Column): Seq[Column] = (1 to n).map(j => element_at(toks, i * n + j))
    when(
      size(toks) >= n,
      transform(
        sequence(lit(0), (size(toks) / n).cast("int") - 1),
        i => struct(
          xxhash64(slots(i): _*).as("h1"),
          xxhash64(lit(7) +: slots(i): _*).as("h2")
        )
      )
    ).otherwise(array().cast("array<struct<h1:bigint,h2:bigint>>"))
  }

  /** Cross-document passage sharing stats: per doc, how many of its distinct
    * passages also appear in at least one OTHER document.
    *
    * Plan — NO sort anywhere (the earlier window form sorted the whole
    * exploded frame inside `count(*) OVER (PARTITION BY passage)`, the
    * scale killer at 100×):
    *   1. map-only per-doc `n_passages` (array size — no shuffle);
    *   2. explode → hash-aggregate per passage to `(n_docs, min doc id)` —
    *      ONE exchange of the exploded frame, partial-aggregated map-side,
    *      carrying 16-byte [[passageHashesFromTokens]] pairs, never passage text;
    *   3. passages seen in exactly one doc belong to that doc (`min id` IS
    *      the owner), so a per-doc count of singletons — a second, tiny
    *      exchange — gives `n_unique`, and `n_shared = n_passages -
    *      n_unique`;
    *   4. one doc-granularity left join (broadcast/AQE-sized) stitches the
    *      two per-doc frames.
    * The corpus is scanned twice, but both passes are map-cheap: tokens are
    * projected BEFORE the explode (see [[passageHashesFromTokens]] — the
    * inline form re-ran the split regex per slot under a generator).
    */
  def passageShareStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 5
  ): DataFrame = {
    val pre = docs.select(col(idCol).as("id"), split(lower(col(textCol)), "\\s+").as("toks"))
    // Gate on the CHEAP equivalent predicate (≥ n tokens ⟺ ≥ 1 passage),
    // not on the computed n_passages: a filter on the expensive alias gets
    // pushed below the project with the alias inlined, re-running the
    // split regex per lambda slot inside the predicate.
    val base = pre
      .filter(size(col("toks")) >= n)
      .select(col("id"), size(array_distinct(passageHashesFromTokens(col("toks"), n))).cast("long").as("n_passages"))
    val perPassage = pre
      .select(col("id"), explode(array_distinct(passageHashesFromTokens(col("toks"), n))).as("ph"))
      .groupBy(col("ph"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("one_id"))
    val uniq = perPassage
      .filter(col("n_docs") === 1)
      .groupBy(col("one_id").as("id"))
      .agg(count(lit(1)).as("n_unique"))
    base
      .join(uniq, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("n_passages"),
        (col("n_passages") - coalesce(col("n_unique"), lit(0L))).as("n_shared")
      )
  }

  /** Content-defined chunk fingerprints ([[graft.functions.CdcChunksExpr]]):
    * boundaries chosen by a gear rolling hash, so an insertion re-aligns at
    * the next content boundary instead of shifting every downstream chunk —
    * the insert-robust upgrade over fixed [[passages]].
    */
  def cdcChunks(text: Column, minLen: Int = 32, maxLen: Int = 256, maskBits: Int = 6): Column =
    graft.functions.CdcChunksExpr.column(text, minLen, maxLen, maskBits)

  /** [[passageShareStats]] over CDC chunks: per doc, distinct chunk count
    * and how many of those chunks appear in other docs. Only 64-bit chunk
    * fingerprints cross the exchanges — chunk text never shuffles.
    */
  def cdcShareStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minLen: Int = 32,
      maxLen: Int = 256,
      maskBits: Int = 6
  ): DataFrame = {
    // Same sort-free shape as [[passageShareStats]]: map-only per-doc chunk
    // count + one partial-agged exchange of 64-bit fingerprints + a
    // singleton rollup joined back at doc granularity. (cdcChunks is a
    // single native codegen'd expression, so the double scan is cheap.)
    val chunks = array_distinct(cdcChunks(col(textCol), minLen, maxLen, maskBits))
    val base = docs
      .select(col(idCol).as("id"), size(chunks).cast("long").as("n_chunks"))
      .filter(col("n_chunks") > 0)
    val perChunk = docs
      .select(col(idCol).as("id"), explode(chunks).as("c"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("one_id"))
    val uniq = perChunk
      .filter(col("n_docs") === 1)
      .groupBy(col("one_id").as("id"))
      .agg(count(lit(1)).as("n_unique"))
    base
      .join(uniq, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_unique"), lit(0L))).as("n_shared")
      )
  }

  /** Content-defined chunks with an md5 WINDOW hash — the oracle-checkable
    * twin of the gear-hash [[cdcChunks]]: a chunk boundary falls after
    * character `i` iff the md5 of the `window` characters ending at `i`
    * starts with hex '0' (P=1/16 → ~16·window expected chunk length).
    * Hash-of-sliding-window CDC is the classic LBFS/rsync family; the gear
    * form is the production fast path (one table lookup per byte vs one md5
    * per position), this form anchors the boundary→chunk→share semantics to
    * a SQL oracle, since both engines agree on md5 bytes and character
    * indexing. Docs shorter than `window` are a single chunk. Insert-robust
    * like any CDC: an edit re-aligns at the next content boundary.
    */
  def cdcMd5Chunks(text: Column, window: Int = 8): Column = {
    val len = length(text)
    val bs = when(
      len >= window,
      filter(
        sequence(lit(window), len),
        i => substring(md5(text.substr(i - lit(window - 1), lit(window))), 1, 1) === "0"
      )
    ).otherwise(array().cast("array<int>"))
    val starts = concat(array(lit(0)), bs)
    val ends = concat(bs, array(len))
    filter(
      zip_with(starts, ends, (s, e) => text.substr(s + lit(1), e - s)),
      c => length(c) > 0
    )
  }

  /** [[cdcShareStats]] over [[cdcMd5Chunks]], chunk identity = md5 of the
    * chunk text (only 32-char hashes cross the exchange). Same sort-free
    * plan shape; fully SQL-oracle-checkable.
    */
  def cdcMd5ShareStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      window: Int = 8
  ): DataFrame = {
    val chunkHashes = array_distinct(transform(cdcMd5Chunks(col(textCol), window), c => md5(c)))
    val base = docs
      .select(col(idCol).as("id"), size(chunkHashes).cast("long").as("n_chunks"))
      .filter(col("n_chunks") > 0)
    val perChunk = docs
      .select(col(idCol).as("id"), explode(chunkHashes).as("c"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("one_id"))
    val uniq = perChunk
      .filter(col("n_docs") === 1)
      .groupBy(col("one_id").as("id"))
      .agg(count(lit(1)).as("n_unique"))
    base
      .join(uniq, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_unique"), lit(0L))).as("n_shared")
      )
  }

  // ------------------------------------- md5-anchored fingerprints (oracle)

  /** 32-bit hash from the md5 hex prefix — portable across engines (the
    * md5 byte stream is engine-independent, unlike xxhash64), so operators
    * built on it are fully SQL-oracle-checkable. The production operators
    * ([[simhash64]], [[minhashSignature]]) use engine-native xxhash64 for
    * speed; these md5 forms anchor the same algorithms to a cross-engine
    * oracle.
    */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 32-bit SimHash over distinct whitespace tokens with md5-derived token
    * hashes: per-bit majority vote, bit j set iff more token hashes have
    * bit j set than not. Same algorithm as [[simhash64]]; oracle-checkable.
    */
  def simhash32Md5(text: Column): Column = {
    val masks = array((0 until 32).map(j => lit(1L << j)): _*)
    val tokHashes = transform(array_distinct(split(lower(text), "\\s+")), t => md5Hash32(t))
    val votes = aggregate(
      tokHashes,
      array_repeat(lit(0), 32),
      (acc, h) => zip_with(acc, masks, (a, m) => a + when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1))
    )
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L),
      (acc, bit) => acc.bitwiseOR(bit)
    )
  }

  /** Universal-family coefficients for [[minhashMd5Signature]] over the
    * Mersenne prime p = 2^31-1: inputs reduce mod p first, so `a*h' + b`
    * with a, b, h' < p stays under 2^62 (no overflow under ANSI arithmetic
    * in either engine) while the final `mod p` wraps ~a times — a genuine
    * permutation-like mix. (An earlier 2^61-1 modulus never wrapped for
    * half the family — `a*h + b < p` made those members monotone in h, so
    * every monotone member's argmin was the same global-min shingle and
    * band recall collapsed; caught by DedupSpec's md5/xxhash agreement
    * test.)
    */
  val Md5AffineMod: Long = graft.functions.MinhashMd5Sig.Mod
  def md5AffineA(j: Int): Long = graft.functions.MinhashMd5Sig.affineA(j)
  def md5AffineB(j: Int): Long = graft.functions.MinhashMd5Sig.affineB(j)

  /** MinHash signature with an md5-seeded affine hash family: ONE portable
    * md5 per shingle, member j = `(a_j·(h mod p) + b_j) mod p`, p = 2^31-1. Same
    * min-over-shingles structure as [[minhashSignatureFromHashes]], fully
    * oracle-checkable (md5 bytes and 62-bit integer arithmetic are engine-
    * independent) at 1/numHashes of the per-member hashing cost.
    *
    * Feed an already-projected shingle-hash column (e.g.
    * `select(md5ShingleHashes(...).as("h")).select(minhashMd5Signature(col("h"), n))`)
    * — building from raw text inline would re-derive the shingle pipeline
    * once per member (Catalyst collapses adjacent projections only when
    * the shared expression is cheap).
    */
  def md5ShingleHashes(text: Column, shingleN: Int): Column =
    transform(wordShingles(text, shingleN), g => md5Hash32(g))

  def minhashMd5Signature(hashes: Column, numHashes: Int): Column = {
    val perHash = (0 until numHashes).map { j =>
      array_min(transform(hashes, h =>
        (lit(md5AffineA(j)) * (h % lit(Md5AffineMod)) + lit(md5AffineB(j))) % lit(Md5AffineMod)))
    }
    when(size(hashes) > 0, array(perHash: _*)).otherwise(lit(null).cast("array<bigint>"))
  }

  /** WEIGHTED near-dup pairs: MinHash over the tf-weighted token multiset,
    * via integer-weight expansion — element (token, k) for k = 1..min(tf,
    * `tfCap`), so plain Jaccard over the expanded sets IS the (capped)
    * weighted Jaccard `Σ min(tfA,tfB) / Σ max(tfA,tfB)`. Unweighted
    * shingle MinHash treats a word said once and said fifty times
    * identically; the weighted form catches template/boilerplate pairs
    * that share a skewed term DISTRIBUTION, not exact phrasing — the
    * complement of [[minhashMd5Pairs]] in the dedup family.
    *
    * Everything is md5/affine portable (same hash family and banding as
    * the md5 pipeline), and the verify stage computes the EXACT capped
    * weighted Jaccard in round-half-up basis points — full SQL oracle.
    *
    * Shape: tokens explode → (id, token) tf agg → `sequence(1, w)`
    * expansion (bounded ×tfCap) → ONE 64-min aggregation per doc (partial
    * aggregation: 64 longs per doc cross the exchange, never the expanded
    * elements) → band keys → the same capped-bucket ids-only pair stage →
    * exact verify over per-doc expanded-hash sets computed once. Salt
    * safety: `tok || '#' || occ` is injective for occ ∈ 1..9 (single
    * trailing digit), so expanded elements never collide textually.
    */
  def weightedMinhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      tfCap: Int = 8,
      minBps: Long = 0L,
      maxBucket: Int = 1000,
      minEstMatches: Int = 0
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // ONE corpus pass: the tf-capped expansion, the 64-member affine
    // signature, and the distinct expanded-hash set all come out of one
    // codegen'd call per row (graft.functions.WeightedMinhashSig —
    // bit-identical to the relational explode/groupBy/min chain,
    // spec-pinned in DedupSpec). The only materialized frame is
    // signature-sized; the old chain persisted the expanded token
    // multiset plus two derived frames (optimization r16, guide §2.3/.4).
    val state = docs
      .select(
        col(idCol).as("id"),
        graft.functions.WeightedMinhashExpr.state(col(textCol), tfCap, numHashes).as("st"))
      .filter(col("st").isNotNull)
      .select(col("id"), col("st.sig").as("sig"), col("st.hset").as("hset"))
      .localCheckpoint(eager = true)
    val banded = state.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct((lit(b).as("b") +: (0 until r).map(i =>
          element_at(col("sig"), b * r + i + 1).as(s"m$i"))): _*)
      }: _*)).as("bk"))
    val rawPairs = banded
      .groupBy(col("bk"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(orderedPairs(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Optional signature-estimate prefilter: count matching components
    // (64 long compares per pair) and require >= minEstMatches before the
    // much heavier exact set verify. Statistically tight (at s = 0.8 with
    // 64 hashes, matches ~ Binomial(64, .8): a 44 cut drops ~1% of
    // borderline pairs) and REPLAYED by the oracle, so the gate compare
    // is unaffected; 0 disables.
    val pairs =
      if (minEstMatches <= 0) rawPairs
      else
        rawPairs
          .join(state.select(col("id").as("id_a"), col("sig").as("sa")), Seq("id_a"))
          .join(state.select(col("id").as("id_b"), col("sig").as("sb")), Seq("id_b"))
          .filter(
            // codegen'd match-count kernel (optimization r16): the
            // interpreted zip_with/filter pair ran 2×64 boxed lambda
            // evals per candidate pair on the prefilter hot path
            graft.functions.LongVecExpr.matchCount(col("sa"), col("sb"))
              >= minEstMatches)
          .select(col("id_a"), col("id_b"))
    val verified = pairs
      .join(state.select(col("id").as("id_a"), col("hset").as("ha")), Seq("id_a"))
      .join(state.select(col("id").as("id_b"), col("hset").as("hb")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("inter"),
        size(array_union(col("ha"), col("hb"))).cast("long").as("uni"))
      // threshold FIRST, in pure long arithmetic — the exact rounded
      // comparison (round-half-up(10⁴·i/u) ≥ t ⟺ 2·10⁴·i ≥ (2t−1)·u; at
      // t = 0 the right side is −u, keeping everything, same as bps ≥ 0).
      // Filtering on the DECIMAL ratio alias instead made Catalyst
      // re-substitute the intersect/union into the filter AND the output
      // projection (projection collapse has no cross-operator
      // subexpression reuse) — the containment chain's r10 finding; the
      // ratio is built only for surviving rows
      .filter(lit(20000L) * col("inter") >= lit(2L * minBps - 1L) * col("uni"))
      .select(
        col("id_a"), col("id_b"),
        graft.functions.ExactDecimal.scaledRatio(col("inter"), col("uni"), 10000L)
          .cast("long").as("wjaccard_bps"))
    verified.localCheckpoint(eager = true)
  }

  /** Asymmetric CONTAINMENT pairs — the quote/expansion relationship
    * resemblance dedup is blind to: a 100-word document quoted verbatim
    * inside a 10,000-word one has Jaccard ≈ 0.01 (MinHash-LSH never even
    * surfaces the pair: band collision probability ≈ J^r) but containment
    * |A∩B|/|A| = 1.0. Containment is what decontamination and
    * quote-plagiarism screens actually need.
    *
    * Candidate generation is the prefix-filter pigeonhole, not banding:
    * if round-half-up(c(A⊆B)) ≥ t then B holds ≥ ⌈(2t−1)·|A|/2·10⁴⌉ of
    * A's shingles, so at least one of A's
    * ⌊(2(10⁴−t)+1)·|A|/2·10⁴⌋+1 RAREST shingles (global df order, id tie-break)
    * must appear in B — probing only that prefix against the posting
    * list is exact, and rare-first ordering keeps the join fanout near
    * the theoretical minimum (AllPairs/PPJoin's ordering argument applied
    * to containment). Shingles with df > maxPosting are excluded from
    * BOTH sides of the probe (web-scale boilerplate grams; documented
    * recall cap exactly like the banded family's bucket cap — a pair
    * whose every shared prefix shingle is that common can be missed).
    *
    * 100 TB shape: one shingle projection (checkpointed, reused by df
    * count / prefix / verify), one df aggregation, one prefix-to-posting
    * equi-join whose fanout per prefix row is that shingle's df, one
    * ids-only dedup, then exact verification joins fetching only
    * candidate docs' sets. No N², no unpartitioned window (the prefix
    * rank partitions by doc). Output: canonical id_a < id_b rows with
    * set sizes, overlap, and BOTH directional containments in exact bps;
    * a row survives iff max(containment) ≥ thresholdBps.
    */
  def containmentMd5Pairs(
      docs: DataFrame,
      thresholdBps: Long = 8000L,
      shingleN: Int = 3,
      maxPosting: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    containmentPairsFromSets(
      shingleSets(docs, shingleN, idCol, textCol), thresholdBps, maxPosting)

  /** The md5 shingle-hash SET projection the containment family runs on:
    * (id, hs) for docs with ≥ 1 shingle, checkpointed. Exposed so
    * composites that run SEVERAL containment chains over filtered views
    * of one corpus (the curation order report / pipeline v10 run three)
    * shingle the text ONCE and filter the checkpointed frame, instead of
    * re-shingling per chain (VERDICT r11 #6).
    */
  def shingleSets(
      docs: DataFrame,
      shingleN: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    docs
      .select(col(idCol).as("id"),
        graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(eager = true) // reused: df count, prefix, verify

  /** [[containmentMd5Pairs]] from a prebuilt [[shingleSets]] frame —
    * everything from the posting projection on; see the main doc above
    * for the candidate-generation proof and the 100 TB shape.
    */
  def containmentPairsFromSets(
      sets: DataFrame,
      thresholdBps: Long = 8000L,
      maxPosting: Int = 1000
  ): DataFrame =
    containmentPairsFromBuild(
      containmentBuild(sets, thresholdBps, maxPosting, materializePrefix = false))

  /** The shared middle of the containment chain: the df-capped posting
    * frame and the pigeonhole-prefix frame at one threshold. Composites
    * that probe the SAME corpus under different id filters (the curation
    * order report / v10 run the dedup chain on train AND on clean) build
    * this once and call [[containmentPairsFromBuild]] per filter —
    * restriction semantics noted there.
    */
  private[ops] case class ContainmentBuild(
      sets: DataFrame, pd: DataFrame, prefix: DataFrame, thresholdBps: Long)

  private[ops] def containmentBuild(
      sets: DataFrame,
      thresholdBps: Long,
      maxPosting: Int,
      materializePrefix: Boolean
  ): ContainmentBuild = {
    require(thresholdBps >= 1 && thresholdBps <= 10000, "threshold is bps in (0, 10000]")
    // ONE df-capped (id, h, df, n) posting frame feeds BOTH the prefix
    // selection and the candidate probe — the r9 shape aggregated the
    // document frequencies once per consumer and ranked prefixes with a
    // corpus-wide window SORT; this checkpoints the joined frame once and
    // picks each doc's prefix with a bounded per-doc fold instead
    // (collect_list is partially aggregated map-side; per-doc state is
    // shingle-count-bounded — no corpus-sized sort anywhere). Set sizes
    // ride the frame from the start, so no candidate-side size join.
    val posting = sets.select(
      col("id"), size(col("hs")).cast("long").as("n"), explode(col("hs")).as("h"))
    val dfc = posting.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxPosting)
    val pd = posting.join(dfc, Seq("h")) // df cap applies to the probe side too
      .localCheckpoint(eager = true)
    val prefix = pd
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("s"),
        max(col("n")).as("n"))
      // the pigeonhole prefix, sized to the ROUNDED threshold: acceptance
      // is round-half-up(10⁴·nc/n) ≥ t ⟺ nc ≥ ⌈(2t−1)·n/2·10⁴⌉, so the
      // prefix must hold n − ⌈(2t−1)·n/2·10⁴⌉ + 1 =
      // ⌊(2(10⁴−t)+1)·n/2·10⁴⌋ + 1 rarest shingles — exactly tight. The
      // r10 form ⌊(10⁴−t)·n/10⁴⌋+1 guaranteed only nc ≥ ⌈t·n/10⁴⌉ and
      // could miss a pair landing in the half-bp rounding window once
      // n ≥ ~2·10⁴ shingles (ADVICE r10; boundary spec in DedupSpec).
      // Exact integer floor division — Spark `/` on longs is double division.
      .select(col("id").as("probe_id"), col("n").as("probe_n"),
        explode(slice(col("s"), lit(1),
          (expr(s"(2 * (10000 - $thresholdBps) + 1) * n DIV 20000") + 1L).cast("int"))).as("p"))
      .select(col("probe_id"), col("probe_n"), col("p").getField("h").as("h"))
    ContainmentBuild(
      sets, pd,
      if (materializePrefix) prefix.localCheckpoint(eager = true) else prefix,
      thresholdBps)
  }

  /** One containment pair chain off a shared [[containmentBuild]],
    * optionally RESTRICTED to the subcorpus that excludes `excludeIds`
    * (both probe and posting sides). Restriction keeps the BASE corpus's
    * document frequencies (rare-first order and the df cap): the
    * pigeonhole prefix is complete for ANY fixed-size shingle subset, so
    * the restricted chain's verified output equals a recomputed chain's
    * whenever the df cap does not bind differentially — it never binds on
    * these corpora (max df 23 vs cap 1000 at sf0.1), and when it does the
    * miss is the base chain's own documented boilerplate recall cap,
    * evaluated with the larger corpus's frequencies.
    */
  private[ops] def containmentPairsFromBuild(
      b: ContainmentBuild,
      excludeIds: Option[DataFrame] = None
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    val thresholdBps = b.thresholdBps
    val (prefix, pdSel) = excludeIds match {
      case None => (b.prefix, b.pd)
      case Some(ids) =>
        val ex = ids.select(col(ids.columns.head).as("id"))
        (b.prefix.join(ex.select(col("id").as("probe_id")), Seq("probe_id"), "left_anti"),
          b.pd.join(ex, Seq("id"), "left_anti"))
    }
    val sets = b.sets
    val cand = prefix
      .join(pdSel.select(col("id").as("other_id"), col("n").as("other_n"), col("h")), Seq("h"))
      .filter(col("probe_id") =!= col("other_id"))
      // containment LENGTH filter (Vernica et al.): probe A's candidates
      // only serve the "A contained in OTHER" direction, which needs
      // |OTHER| ≥ nc ≥ ⌈(2t−1)·|A|/2·10⁴⌉ under the ROUNDED acceptance
      // (same half-bp window as the prefix — the r10 form used t·|A|/10⁴
      // and could drop a boundary pair); a pair whose true relation is
      // OTHER-in-A is generated by OTHER's own probe, so dropping
      // undersized others here loses nothing — output-identical, and it
      // cuts the pre-distinct pair volume before the shuffle
      .filter(col("other_n") * 20000L >= col("probe_n") * (2L * thresholdBps - 1L))
      .select(
        least(col("probe_id"), col("other_id")).as("id_a"),
        greatest(col("probe_id"), col("other_id")).as("id_b"))
      .distinct()
      .localCheckpoint(eager = true) // ids only; feeds both verify joins
    // The overlap stats MATERIALIZE before any expression references
    // n_common: Catalyst collapses projections and re-substitutes the
    // array_intersect into every downstream expression that reads it (no
    // cross-operator subexpression reuse), so the r9 shape — a decimal
    // ratio filter straight over this projection — evaluated the
    // intersect ~5× per candidate pair. That repeated set work, not the
    // df aggregation, was the actual cost of the chain. The checkpointed
    // frame is 5 longs per candidate.
    val stats = cand
      .join(sets.select(col("id").as("id_a"), col("hs").as("ha")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("hs").as("hb")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        size(col("ha")).cast("long").as("n_a"),
        size(col("hb")).cast("long").as("n_b"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("n_common"))
      .localCheckpoint(eager = true)
    stats
      // threshold in pure long arithmetic — exactly the rounded
      // comparison (round-half-up(10⁴·nc/n) ≥ t ⟺ 2·10⁴·nc ≥ (2t−1)·n);
      // the DECIMAL ratio columns are built only for surviving rows
      .filter(
        lit(20000L) * col("n_common") >= lit(2L * thresholdBps - 1L) * col("n_a") ||
          lit(20000L) * col("n_common") >= lit(2L * thresholdBps - 1L) * col("n_b"))
      .withColumn("cont_a_in_b_bps",
        scaledRatio(col("n_common"), col("n_a"), 10000L).cast("long"))
      .withColumn("cont_b_in_a_bps",
        scaledRatio(col("n_common"), col("n_b"), 10000L).cast("long"))
  }

  /** The SKETCH path for containment verification, priced: at 100 TB the
    * exact-set verify of [[containmentMd5Pairs]] is the expensive stage
    * (two set fetches + an intersection per candidate); signatures + set
    * SIZES can score candidates instead. From the 64-member MinHash
    * Jaccard estimate Ĵ = matches/64 and the exact sizes,
    * |A∩B| ≈ Ĵ(|A|+|B|)/(1+Ĵ), so containment(A in B) ≈
    * Ĵ(n_a+n_b)/((1+Ĵ)·n_a) — evaluated as the exact rational
    * c(n_a+n_b) / ((64+c)·n_a) in round-half-up bps. Output: one row per
    * exact containment pair with BOTH directional estimates and their
    * SIGNED bps errors — the measured answer to "can 64 hashes replace
    * the exact verify" (they track the direction but carry the
    * J-estimator's ±1/√64 variance; the row quantifies it on this
    * corpus).
    *
    * `pairs` is an already-built (possibly memoized) exact containment
    * pair frame from [[containmentMd5Pairs]] — optimization r15: the exact
    * pair chain is shared with containment_pairs instead of rebuilt.
    */
  def containmentMinhashEstFrom(
      docs: DataFrame,
      pairs: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    val sigs = docs
      .select(col(idCol).as("id"),
        minhashMd5Signature(md5ShingleHashes(col(textCol), shingleN), numHashes).as("sig"))
    def estBps(c: Column, nFrom: Column, nTo: Column): Column =
      scaledRatio(
        c * (nFrom + nTo),
        (lit(numHashes.toLong) + c) * nFrom,
        10000L).cast("long")
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), Seq("id_b"))
      .withColumn("n_match",
        graft.functions.LongVecExpr.matchCount(col("sa"), col("sb")))
      .select(
        col("id_a"), col("id_b"), col("n_match"),
        col("cont_a_in_b_bps"),
        estBps(col("n_match"), col("n_a"), col("n_b")).as("est_a_in_b_bps"),
        col("cont_b_in_a_bps"),
        estBps(col("n_match"), col("n_b"), col("n_a")).as("est_b_in_a_bps"))
      .withColumn("err_a_bps", col("est_a_in_b_bps") - col("cont_a_in_b_bps"))
      .withColumn("err_b_bps", col("est_b_in_a_bps") - col("cont_b_in_a_bps"))
  }

  /** The shared core of the curation-order analysis: both policies'
    * surviving id frames (checkpointed, ids only) for one (corpus, eval,
    * thresholds) configuration. `curation_order_report` and
    * `curation_pipeline_v10` consume the SAME core — the registry builds it
    * once per (session, sfDir) through its shared-leg memo, so the
    * shingle pass, the contamination chain, and both dedup chains run
    * once for the pair of queries instead of once per query.
    */
  final case class CurationOrderCore(dedupFirst: DataFrame, decontamFirst: DataFrame)

  def curationOrderCore(
      docs: DataFrame,
      evalIds: DataFrame,
      dedupBps: Long = 9500L,
      contamBps: Long = 8000L,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): CurationOrderCore = {
    val evIds = evalIds.select(col(evalIds.columns.head).as("eid")).distinct()
    val train = docs.join(evIds.select(col("eid").as(idCol)), Seq(idCol), "left_anti")
    // the three containment chains (decontam @contamBps, dedup @dedupBps
    // on train, dedup @dedupBps on clean) differ only in upstream id
    // filters — shingle the corpus ONCE and filter the checkpointed set
    // frame per chain (VERDICT r11 #6: the chains' set build was the
    // shared cost, and every downstream value is identical by
    // construction since setColumn is deterministic per text)
    val sets = shingleSets(docs, idCol = idCol, textCol = textCol)
    val contaminated = quotedEvalContainmentFromSets(sets, evIds, contamBps)
      .select(col("train_doc_id").as(idCol)).distinct()
      .localCheckpoint(eager = true) // ids only; read by both policies
    val setsTrain = sets.join(evIds.select(col("eid").as("id")), Seq("id"), "left_anti")
    // ONE posting/prefix build serves BOTH dedup chains — the clean chain
    // is the same build restricted past the contaminated ids
    // (VERDICT r11 #6; restriction semantics on containmentPairsFromBuild)
    val build = containmentBuild(setsTrain, dedupBps, 1000, materializePrefix = true)
    def dedupDrops(pairs: DataFrame) =
      pairs.select(
        when(col("cont_a_in_b_bps") >= dedupBps && col("cont_b_in_a_bps") >= dedupBps,
          greatest(col("id_a"), col("id_b")))
          .when(col("cont_a_in_b_bps") >= dedupBps, col("id_a"))
          .otherwise(col("id_b")).as(idCol)).distinct()
    val dedupFirst = train
      .join(dedupDrops(containmentPairsFromBuild(build)), Seq(idCol), "left_anti")
      .join(contaminated, Seq(idCol), "left_anti")
      .select(col(idCol)).localCheckpoint(eager = true)
    val clean = train.join(contaminated, Seq(idCol), "left_anti")
    val decontamFirst = clean
      .join(dedupDrops(containmentPairsFromBuild(build, Some(contaminated))),
        Seq(idCol), "left_anti")
      .select(col(idCol)).localCheckpoint(eager = true)
    CurationOrderCore(dedupFirst, decontamFirst)
  }

  /** Does curation ORDER matter — dedup-then-decontam vs
    * decontam-then-dedup, measured. The two commute UNLESS a containment
    * representative is itself contaminated: dedup-first lets the
    * contaminated container kill its quote and then dies to decontam
    * (both copies gone); decontam-first removes the container before the
    * election, so the quote survives as its own representative — the
    * deletion-repair insight applied to pipeline ordering. Rows:
    * surviving docs/tokens per policy plus the symmetric difference
    * (`divergence` — 0 when the orders commute, as they do on the
    * driver corpus at both SFs; the planted-container spec shows the
    * non-zero case).
    */
  def curationOrderReport(
      docs: DataFrame,
      evalIds: DataFrame,
      dedupBps: Long = 9500L,
      contamBps: Long = 8000L,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    curationOrderReportFromCore(
      curationOrderCore(docs, evalIds, dedupBps, contamBps, idCol, textCol),
      docs, idCol, textCol)

  /** [[curationOrderReport]] off a prebuilt [[curationOrderCore]]. */
  def curationOrderReportFromCore(
      core: CurationOrderCore,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val diverged = core.dedupFirst.join(core.decontamFirst, Seq(idCol), "left_anti")
      .unionByName(core.decontamFirst.join(core.dedupFirst, Seq(idCol), "left_anti"))
    def leg(name: String, ids: DataFrame) =
      ids.join(docs, Seq(idCol))
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L))
            .as("n_tokens"))
        .select(lit(name).as("policy"), col("n_docs"), col("n_tokens"))
    Seq(
      leg("dedup_then_decontam", core.dedupFirst),
      leg("decontam_then_dedup", core.decontamFirst),
      leg("divergence", diverged)).reduce(_ unionByName _)
  }

  /** Curation pipeline v10 — the ORDER POLICY encoded.
    * [[curationOrderReport]] measured that dedup and decontam commute
    * EXCEPT when a containment representative is itself contaminated
    * (dedup-first lets the contaminated container kill its quote and
    * then die to decontam — both copies gone), so this composite makes
    * decontam-then-dedup the default: quoted-eval decontamination
    * (eval-side containment ≥ `contamBps`) → containment dedup at
    * `dedupBps` over the CLEAN corpus → the epoch water-fill allocation
    * over the survivors. The dedup-first counterfactual rides along as
    * the `order_divergence` health column (docs the two orders disagree
    * on — 0 when they commute, nonzero exactly when the policy earned
    * its keep; the planted-container spec shows the nonzero case).
    *
    * Cost shape: ONE [[shingleSets]] pass feeds all three containment
    * chains; the water-fill adds a sources-row iteration. Same stage
    * mechanics as v8 (dedup→fill) and v9 (decontam→fill), composed in
    * the measured-safe order.
    */
  def curationPipelineV10(
      docs: DataFrame,
      evalIds: DataFrame,
      dedupBps: Long = 9500L,
      contamBps: Long = 8000L,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    curationPipelineV10FromCore(
      curationOrderCore(docs, evalIds, dedupBps, contamBps, idCol, textCol),
      docs, idCol, textCol)

  /** [[curationPipelineV10]] off a prebuilt [[curationOrderCore]]: the
    * kept corpus is the decontam-then-dedup survivors (the core's
    * checkpointed id frame joined back to the docs), the health column
    * the symmetric difference against the dedup-first counterfactual.
    */
  def curationPipelineV10FromCore(
      core: CurationOrderCore,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val kept = core.decontamFirst.join(docs, Seq(idCol))
    val divergence = core.dedupFirst.join(core.decontamFirst, Seq(idCol), "left_anti")
      .unionByName(core.decontamFirst.join(core.dedupFirst, Seq(idCol), "left_anti"))
      .agg(count(lit(1)).as("order_divergence"))
    Sampling.epochWaterfill(kept, srcCol = "source", textCol = textCol)
      .crossJoin(broadcast(divergence)) // 1-row health scalar
  }

  /** Benchmark-contamination detection by CONTAINMENT — the industry case
    * n-gram-share decontamination underweights: an eval question QUOTED
    * verbatim inside a much larger training doc barely moves the doc's
    * overall overlap share, but the eval's own shingles are ~fully
    * contained. Runs [[containmentMd5Pairs]] over the union corpus, keeps
    * the cross-strata pairs, and reports each (train, eval) pair whose
    * EVAL-side directional containment clears the threshold.
    *
    * Completeness: a pair with eval-containment ≥ τ has max directional
    * containment ≥ τ, so the underlying pair survives the symmetric
    * screen — this filter only orients and tightens, never needs pairs
    * the screen dropped. `evalIds` is an ids-only frame (broadcast to the
    * pairs, which are candidate-bounded); the corpus-side cost is exactly
    * one [[containmentMd5Pairs]] pass.
    */
  def quotedEvalContainment(
      docs: DataFrame,
      evalIds: DataFrame,
      thresholdBps: Long = 8000L,
      shingleN: Int = 3,
      maxPosting: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    quotedEvalContainmentFromSets(
      shingleSets(docs, shingleN, idCol, textCol), evalIds, thresholdBps, maxPosting)

  /** [[quotedEvalContainment]] from a prebuilt [[shingleSets]] frame —
    * the orientation/threshold logic over [[containmentPairsFromSets]].
    */
  def quotedEvalContainmentFromSets(
      sets: DataFrame,
      evalIds: DataFrame,
      thresholdBps: Long = 8000L,
      maxPosting: Int = 1000
  ): DataFrame = {
    val pairs = containmentPairsFromSets(sets, thresholdBps, maxPosting)
    val ev = evalIds.select(col(evalIds.columns.head).as("eid")).distinct()
    val aEval = broadcast(ev.select(col("eid").as("id_a"), lit(1).as("a_eval")))
    val bEval = broadcast(ev.select(col("eid").as("id_b"), lit(1).as("b_eval")))
    pairs
      .join(aEval, Seq("id_a"), "left")
      .join(bEval, Seq("id_b"), "left")
      // exactly one side is an eval doc
      .filter(coalesce(col("a_eval"), lit(0)) =!= coalesce(col("b_eval"), lit(0)))
      .select(
        when(col("a_eval") === 1, col("id_b")).otherwise(col("id_a")).as("train_doc_id"),
        when(col("a_eval") === 1, col("id_a")).otherwise(col("id_b")).as("eval_doc_id"),
        when(col("a_eval") === 1, col("n_b")).otherwise(col("n_a")).as("n_train"),
        when(col("a_eval") === 1, col("n_a")).otherwise(col("n_b")).as("n_eval"),
        col("n_common"),
        when(col("a_eval") === 1, col("cont_a_in_b_bps")).otherwise(col("cont_b_in_a_bps"))
          .as("eval_contained_bps"))
      .filter(col("eval_contained_bps") >= thresholdBps)
  }

  /** Full md5-anchored near-duplicate PAIR pipeline — the oracle-checkable
    * twin of [[minhashPairs]]: md5 shingle hashes → affine MinHash signature
    * → banded LSH buckets → candidate pairs → exact-Jaccard verification
    * over the md5 shingle-hash sets. Same staged plan shape as the xxhash64
    * production form (ids-only bucket shuffle, array-expression pair
    * generation, shingles recomputed only for candidate docs), but every
    * hash is engine-portable, so a SQL oracle reproduces the result
    * bit-for-bit — including the banding, the `maxBucket` degenerate-bucket
    * cap, and the verification arithmetic.
    *
    * Feeds [[nearDupClusters]] / [[dropNearDuplicates]] unchanged, putting
    * the whole pair → connected-components → corpus-dedup chain under the
    * DuckDB oracle (recursive-CTE connected components on the same pairs).
    */
  def minhashMd5Pairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.0,
      maxBucket: Int = 1000,
      materialize: Boolean = true
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Native one-pass signature ([[graft.functions.MinhashMd5Sig]] —
    // bit-identical to the compositional md5ShingleHashes →
    // minhashMd5Signature pipeline, spec-asserted), then band keys sliced
    // off the materialized signature attribute in a second projection.
    val banded = docs
      .select(
        col(idCol).as("id"),
        graft.functions.MinhashMd5Sig.column(col(textCol), shingleN, numHashes).as("sig")
      )
      .filter(col("sig").isNotNull)
      .select(
        col("id"),
        explode(array((0 until bands).map { b =>
          struct(
            (lit(b).as("b") +: (1 to r).map(i => element_at(col("sig"), b * r + i).as(s"m$i"))): _*
          )
        }: _*)).as("bk")
      )
    // Bucket → pairs: one shuffle on the band key; pair generation stays in
    // an array expression; buckets above maxBucket are dropped (degenerate
    // boilerplate at web scale — and the oracle applies the same cap).
    val pairs = banded
      .groupBy(col("bk"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(orderedPairs(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Verification: md5 shingle-hash sets computed AFTER the join, for
    // candidate docs only. Sets are explicitly distinct on both sides, so
    // |union| = |a| + |b| - |intersect| holds in both engines.
    val docsA = docs.select(col(idCol).as("id_a"), col(textCol).as("t_a"))
    val docsB = docs.select(col(idCol).as("id_b"), col(textCol).as("t_b"))
    val verified = pairs
      .join(docsA, Seq("id_a"))
      .join(docsB, Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        graft.functions.MinhashMd5Sig.setColumn(col("t_a"), shingleN).as("ha"),
        graft.functions.MinhashMd5Sig.setColumn(col("t_b"), shingleN).as("hb")
      )
      .select(
        col("id_a"),
        col("id_b"),
        (size(array_intersect(col("ha"), col("hb"))).cast("double") /
          size(array_union(col("ha"), col("hb")))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
    if (!materialize) verified
    else
      try verified.localCheckpoint(eager = true)
      finally pairs.unpersist(blocking = false)
  }

  // ------------------------------------------ One-Permutation Hashing (OPH)

  /** OPH MinHash signature — see [[graft.functions.OphMinhashSigExpr]] for
    * the algorithm (Li/Owen/Zhang 2012 binning, Shrivastava/Li 2014
    * rotation densification) and the 100 TB rationale: the k-wise family
    * re-hashes every shingle `numHashes` times (O(n·k) per doc); OPH pays
    * ONE md5 per shingle plus an O(k) per-doc densification — the
    * signature pass stops being k corpus hashings. Same md5 anchor as
    * [[minhashMd5Signature]], so the whole pipeline stays SQL-oracle-
    * checkable.
    */
  def ophMd5Signature(text: Column, shingleN: Int = 3, numBins: Int = 64): Column =
    graft.functions.OphMinhashSig.column(text, shingleN, numBins)

  /** (id, sig) OPH signature projection over docs with ≥ 1 shingle. */
  def ophSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numBins: Int = 64
  ): DataFrame =
    docs
      .select(col(idCol).as("id"), ophMd5Signature(col(textCol), shingleN, numBins).as("sig"))
      .filter(col("sig").isNotNull)

  /** Banded LSH candidate pairs off any (id, sig) signature frame — the
    * bucket → ids-only pair stage shared verbatim with the k-wise pipeline
    * (same `maxBucket` degenerate-bucket cap, same canonical id_a < id_b
    * dedup). One shuffle on the band key; signatures never cross a second
    * exchange.
    */
  private def bandedCandidates(
      sigs: DataFrame,
      numSlots: Int,
      bands: Int,
      maxBucket: Int
  ): DataFrame = {
    require(numSlots % bands == 0, "bands must divide the signature width")
    val r = numSlots / bands
    sigs
      .select(
        col("id"),
        explode(array((0 until bands).map { b =>
          struct(
            (lit(b).as("b") +: (1 to r).map(i => element_at(col("sig"), b * r + i).as(s"m$i"))): _*
          )
        }: _*)).as("bk"))
      .groupBy(col("bk"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(orderedPairs(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Full OPH near-duplicate PAIR pipeline — [[minhashMd5Pairs]] with the
    * signature pass swapped for the one-hash OPH form: OPH signature →
    * banded LSH buckets → candidate pairs → exact-Jaccard verification
    * over the md5 shingle-hash sets. The banding, bucket cap, pair
    * canonicalization, and verify arithmetic are IDENTICAL to the k-wise
    * pipeline (shared code), so any output difference is purely the
    * signature scheme's — which [[ophBandRecall]] measures against the
    * exact gold rather than asserts.
    */
  def ophMd5Pairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numBins: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.0,
      maxBucket: Int = 1000,
      materialize: Boolean = true
  ): DataFrame = {
    val pairs = bandedCandidates(
      ophSignatures(docs, idCol, textCol, shingleN, numBins), numBins, bands, maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docsA = docs.select(col(idCol).as("id_a"), col(textCol).as("t_a"))
    val docsB = docs.select(col(idCol).as("id_b"), col(textCol).as("t_b"))
    val verified = pairs
      .join(docsA, Seq("id_a"))
      .join(docsB, Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        graft.functions.MinhashMd5Sig.setColumn(col("t_a"), shingleN).as("ha"),
        graft.functions.MinhashMd5Sig.setColumn(col("t_b"), shingleN).as("hb"))
      .select(
        col("id_a"),
        col("id_b"),
        (size(array_intersect(col("ha"), col("hb"))).cast("double") /
          size(array_union(col("ha"), col("hb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    if (!materialize) verified
    else
      try verified.localCheckpoint(eager = true)
      finally pairs.unpersist(blocking = false)
  }

  /** Bin-occupancy census for the OPH signature: how many of the
    * `numBins` bins each document actually fills (a direct slot value is
    * < 2^32; a borrowed one carries the ≥ 2^32 hop offset — the census
    * reads the signature itself, no second shingle pass). This is THE
    * quantity that governs OPH's extra variance on short documents
    * (Shrivastava/Li 2014 §3: a borrowed slot copies its source bin's
    * collision behaviour, so documents with shingles ≫ numBins lose
    * nothing while near-empty documents lean on few distinct minima) —
    * measured as a distribution over the corpus instead of assumed.
    */
  def ophFillCensus(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numBins: Int = 64
  ): DataFrame =
    ophSignatures(docs, idCol, textCol, shingleN, numBins)
      .select(size(filter(col("sig"), v => v < lit(graft.functions.OphMinhashSig.HopOffset)))
        .as("n_filled"))
      .groupBy(col("n_filled"))
      .agg(count(lit(1)).as("n_docs"))
      .select(
        col("n_filled").cast("int").as("n_filled"),
        (lit(numBins) - col("n_filled")).cast("int").as("n_borrowed"),
        col("n_docs"))

  /** The OPH-vs-k-wise decision priced on THIS corpus: both signature
    * schemes at equal width and identical banding, each scheme's banded
    * candidate set graded against the exact ≥ τ gold pairs (the lossless
    * prefix-filter join the LSH family's other recall rows use). One row
    * per scheme: candidate count (the verify cost the scheme buys) and
    * round-half-up recall in basis points. The 100 TB question this
    * answers: does dropping k-wise hashing's O(n·k) signature pass cost
    * any recall at the operating threshold — measured, not folklore.
    */
  def ophBandRecall(
      docs: DataFrame,
      goldPairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1000
  ): DataFrame = {
    val gold = goldPairs.select(col("id_a"), col("id_b"), lit(1L).as("g"))
    val kwise = docs
      .select(
        col(idCol).as("id"),
        graft.functions.MinhashMd5Sig.column(col(textCol), shingleN, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    val legs = Seq(
      ("kwise64", kwise),
      ("oph64", ophSignatures(docs, idCol, textCol, shingleN, numHashes)))
    legs.map { case (scheme, sigs) =>
      bandedCandidates(sigs, numHashes, bands, maxBucket)
        .join(gold, Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_candidates"),
          coalesce(sum(coalesce(col("g"), lit(0L))), lit(0L)).as("n_hit"))
        .crossJoin(broadcast(gold.agg(count(lit(1)).as("n_gold"))))
        .select(
          lit(scheme).as("scheme"),
          col("n_candidates"),
          col("n_gold"),
          col("n_hit"),
          when(col("n_gold") > 0,
            floor((lit(20000L) * col("n_hit") + col("n_gold")) /
              (lit(2L) * col("n_gold"))).cast("long")).as("recall_bps"))
    }.reduce(_ unionByName _)
  }

  /** LSH banding auto-planner — the `ann_filtered_auto` discipline applied
    * to the (bands, rowsPerBand) knob: MEASURE each config on the corpus,
    * then CHOOSE, with the measurement and the choice riding every row.
    * One signature pass (checkpointed — everything downstream touches
    * 8·64-byte signatures, never text); per config b (r = numHashes/b),
    * the banded candidate count is the config's verify COST and the
    * overlap with the exact ≥τ gold (`goldPairs`, the lossless
    * prefix-filter join) is its RECALL. A config qualifies when
    * 10⁴·n_hit ≥ recallTargetBps·n_gold (vacuously when the gold is
    * empty); the chosen row is the cheapest qualifying config, else the
    * highest-recall one — ties break to fewer bands, deterministic both
    * sides of the oracle.
    *
    * Scale shape: more bands = more candidate shuffle volume at 100 TB —
    * this row prices that against measured recall instead of folklore
    * S-curves. The choice is a min-of-struct aggregate over the
    * |configs|-row frame — no window anywhere.
    */
  def lshBandAutoPlan(
      docs: DataFrame,
      goldPairs: DataFrame,
      bandConfigs: Seq[Int] = Seq(4, 8, 16, 32),
      recallTargetBps: Long = 9500L,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 64,
      maxBucket: Int = 1000
  ): DataFrame = {
    require(bandConfigs.nonEmpty && bandConfigs.forall(b => b >= 1 && numHashes % b == 0),
      "every band count must divide numHashes")
    val sigs = docs
      .select(
        col(idCol).as("id"),
        graft.functions.MinhashMd5Sig.column(col(textCol), shingleN, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint(eager = true)
    val gold = goldPairs.select(col("id_a"), col("id_b"), lit(1L).as("g"))
    val nGold = gold.count() // driver scalar, bounded (one count of the gold)
    val legs = bandConfigs.map { b =>
      val r = numHashes / b
      val banded = sigs.select(
        col("id"),
        explode(array((0 until b).map { bb =>
          struct(
            (lit(bb).as("b") +:
              (1 to r).map(i => element_at(col("sig"), bb * r + i).as(s"m$i"))): _*)
        }: _*)).as("bk"))
      val cand = banded
        .groupBy(col("bk"))
        .agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")).between(2, maxBucket))
        .select(explode(orderedPairs(array_sort(col("ids")))).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      cand
        .join(gold, Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_candidates"),
          coalesce(sum(coalesce(col("g"), lit(0L))), lit(0L)).as("n_hit"))
        .select(
          lit(b).as("bands"),
          lit(r).as("rows_per_band"),
          col("n_candidates"),
          lit(nGold).as("n_gold"),
          col("n_hit"))
    }
    val per = legs.reduce(_ unionByName _)
    val scored = per
      .withColumn(
        "recall_bps",
        when(col("n_gold") > 0, expr("(10000 * n_hit) DIV n_gold")))
      .withColumn(
        "qualified",
        when(
          col("n_gold") === 0 ||
            lit(10000L) * col("n_hit") >= lit(recallTargetBps) * col("n_gold"),
          1).otherwise(0))
    // the choice WITHOUT a global window (the registry bans unpartitioned
    // WindowExec): the ranking key is a lexicographically-ordered struct
    // — qualified first, then verify cost (or recall for the unqualified
    // regime), bands last making it UNIQUE — so min(key) IS the winner;
    // one broadcast of the 1-row aggregate flags it
    val keyed = scored.withColumn(
      "ord",
      struct(
        (lit(1) - col("qualified")).as("nq"),
        when(col("qualified") === 1, col("n_candidates")).otherwise(-col("n_hit")).as("cost"),
        col("bands").as("b")))
    keyed
      .crossJoin(broadcast(keyed.agg(min(col("ord")).as("win"))))
      .withColumn("chosen", when(col("ord") === col("win"), 1).otherwise(0))
      .drop("ord", "win")
  }

  /** MinHash estimator calibration over the LSH candidate pairs: for each
    * candidate, the signature-based Jaccard ESTIMATE (matching components
    * / numHashes) next to the exact shingle-set Jaccard, both in exact
    * basis points, plus the signed error. This is the index-quality
    * benchmark for the dedup family — the [[graft.ops.Retrieval]]
    * `ann_ivf_recall` analogue: it answers "how many hash functions do I
    * actually need at my dedup threshold" with measurements instead of
    * the E[err] = √(s(1−s)/k) rule of thumb.
    *
    * Exactness: component matches and set sizes are exact ints; both
    * ratios close with one round-half-up division each
    * ([[graft.functions.ExactDecimal.scaledRatio]]) — no float anywhere.
    *
    * Shape: candidates come from the same banded pipeline as
    * [[minhashMd5Pairs]] (bucket-capped, ids-only); signatures and
    * shingle sets are then computed for CANDIDATE docs only via two
    * id-keyed joins — the same two-sided verify join the pair pipeline
    * already performs, with the signature riding along.
    */
  def minhashCalibration(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1000
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    val cand = minhashMd5Pairs(
      docs, idCol, textCol, shingleN, numHashes, bands,
      threshold = 0.0, maxBucket = maxBucket, materialize = false)
      .select("id_a", "id_b")
    val sideA = docs.select(
      col(idCol).as("id_a"),
      graft.functions.MinhashMd5Sig.column(col(textCol), shingleN, numHashes).as("sig_a"),
      graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("set_a"))
    val sideB = docs.select(
      col(idCol).as("id_b"),
      graft.functions.MinhashMd5Sig.column(col(textCol), shingleN, numHashes).as("sig_b"),
      graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("set_b"))
    cand
      .join(sideA, Seq("id_a"))
      .join(sideB, Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        graft.functions.LongVecExpr.matchCount(col("sig_a"), col("sig_b")).as("n_match"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("inter"),
        size(array_union(col("set_a"), col("set_b"))).cast("long").as("uni"))
      .select(
        col("id_a"),
        col("id_b"),
        col("n_match"),
        scaledRatio(col("n_match"), lit(numHashes.toLong), 10000L).cast("long").as("est_bps"),
        scaledRatio(col("inter"), col("uni"), 10000L).cast("long").as("exact_bps"))
      .withColumn("err_bps", col("est_bps") - col("exact_bps"))
  }

  /** Signature-width sweep — the OTHER MinHash knob, measured: how much
    * estimator error do the first n signature components leave, for each
    * candidate n, against the exact shingle Jaccard. Each component is an
    * independent hash, so the width-n estimator is simply matches among
    * the FIRST n components: one signature computation (width = the
    * maximum candidate), one checkpointed pair frame, and |widths| prefix
    * aggregations — never one signature job per width. Storage and
    * shuffle scale linearly with width at 10⁹ docs, so this curve (error
    * halves roughly per 4× components, σ ≈ √(J(1−J)/n)) is what a dedup
    * deployment reads before paying for 64 over 16.
    */
  def minhashWidthSweep(
      docs: DataFrame,
      widths: Seq[Int] = Seq(8, 16, 32, 64),
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1000
  ): DataFrame = {
    import graft.functions.ExactDecimal.scaledRatio
    require(widths.nonEmpty && widths.forall(w => w >= 1 && w <= numHashes),
      s"widths must lie in [1, $numHashes]")
    val cand = minhashMd5Pairs(
      docs, idCol, textCol, shingleN, numHashes, bands,
      threshold = 0.0, maxBucket = maxBucket, materialize = false)
      .select("id_a", "id_b")
    val sideA = docs.select(
      col(idCol).as("id_a"),
      graft.functions.MinhashMd5Sig.column(col(textCol), shingleN, numHashes).as("sig_a"),
      graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("set_a"))
    val sideB = docs.select(
      col(idCol).as("id_b"),
      graft.functions.MinhashMd5Sig.column(col(textCol), shingleN, numHashes).as("sig_b"),
      graft.functions.MinhashMd5Sig.setColumn(col(textCol), shingleN).as("set_b"))
    val pairFrame = cand
      .join(sideA, Seq("id_a"))
      .join(sideB, Seq("id_b"))
      .select(
        col("sig_a"), col("sig_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("inter"),
        size(array_union(col("set_a"), col("set_b"))).cast("long").as("uni"))
      .localCheckpoint(eager = true) // pairs × (2 sigs + 2 longs); feeds every width leg
    widths.map { n =>
      pairFrame
        .select(
          abs(
            scaledRatio(
              graft.functions.LongVecExpr.matchCount(
                slice(col("sig_a"), 1, n), slice(col("sig_b"), 1, n)),
              lit(n.toLong), 10000L).cast("long") -
              scaledRatio(col("inter"), col("uni"), 10000L).cast("long")).as("err"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(col("err")).as("se"),
          max(col("err")).as("max_abs_err_bps"))
        .select(
          lit(n).as("sig_width"), col("n_pairs"),
          expr("CAST((2 * se + n_pairs) div (2 * n_pairs) AS BIGINT)").as("mean_abs_err_bps"),
          col("max_abs_err_bps"))
    }.reduce(_ unionByName _)
  }

  /** Operating-point sweep over [[minhashCalibration]]: at each candidate
    * dedup threshold, the confusion counts of "signature estimate ≥ t"
    * against "exact Jaccard ≥ t" over the LSH candidate pairs — the table
    * a dedup deployment reads to pick its threshold (and decide whether
    * the estimator's false-positive mass warrants more hash functions or
    * an exact verify stage).
    *
    * Shape: the calibration frame computes once (checkpointed) and the
    * sweep is a broadcast cross with a literal threshold list — one
    * thresholds-bounded aggregation. Exact integer counts throughout.
    */
  def minhashThresholdSweep(
      docs: DataFrame,
      thresholdsBps: Seq[Int] = Seq(3000, 5000, 7000, 8000, 9000),
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(thresholdsBps.nonEmpty, "need thresholds")
    val spark = docs.sparkSession
    import spark.implicits._
    val cal = minhashCalibration(docs, idCol, textCol).localCheckpoint(eager = true)
    cal
      .crossJoin(broadcast(thresholdsBps.map(_.toLong).toDF("t")))
      .groupBy(col("t").as("threshold_bps"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("est_bps") >= col("t") && col("exact_bps") >= col("t"), 1L)
          .otherwise(0L)).as("n_true_pos"),
        sum(when(col("est_bps") >= col("t") && col("exact_bps") < col("t"), 1L)
          .otherwise(0L)).as("n_false_pos"),
        sum(when(col("est_bps") < col("t") && col("exact_bps") >= col("t"), 1L)
          .otherwise(0L)).as("n_false_neg"),
        sum(when(col("est_bps") < col("t") && col("exact_bps") < col("t"), 1L)
          .otherwise(0L)).as("n_true_neg"))
  }

  /** SimHash near-dup pairs on the md5-anchored 32-bit fingerprint — the
    * oracle-checkable twin of [[simhashNearDupPairs]]: same pigeonhole
    * chunk-banding (any pair within hamming < `chunks` shares an exact
    * chunk), same bucket cap, same exact-hamming verification, but every
    * fingerprint bit derives from md5, so a SQL oracle reproduces the
    * candidate generation AND the hamming arithmetic bit-for-bit
    * (`bit_count(xor(...))` on both engines).
    *
    * Default 4 chunks × 8 bits over the 32-bit fingerprint: recall
    * guaranteed for maxHamming ≤ 3, same bound as the production 4×16
    * config.
    */
  def simhashMd5Pairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      chunks: Int = 4,
      maxBucket: Int = 10000,
      materialize: Boolean = true
  ): DataFrame = {
    require(32 % chunks == 0, "chunks must divide 32")
    val w = 32 / chunks
    // Persisted for the same reason as [[simhashNearDupPairs]]: the
    // fingerprint table feeds banding plus both verification sides.
    val fps = docs
      .select(col(idCol).as("id"), simhash32Md5(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunkKeys = (0 until chunks).map { c =>
      struct(lit(c).as("c"), shiftrightunsigned(col("fp"), c * w).bitwiseAND(lit((1L << w) - 1)).as("v"))
    }
    val banded = fps.select(col("id"), explode(array(chunkKeys: _*)).as("ck"))
    val pairs = banded
      .groupBy(col("ck"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(orderedPairs(array_sort(col("ids")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val fA = fps.select(col("id").as("id_a"), col("fp").as("fp_a"))
    val fB = fps.select(col("id").as("id_b"), col("fp").as("fp_b"))
    val verified = pairs
      .join(fA, Seq("id_a"))
      .join(fB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("fp_a"), col("fp_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    if (!materialize) verified
    else
      try verified.localCheckpoint(eager = true)
      finally fps.unpersist(blocking = false)
  }

  // --------------------------------------------------- n-gram Jaccard pairs

  /** Exact n-gram Jaccard over all pairs of a (pre-filtered, small) doc set.
    * For unrestricted inputs use [[minhashPairs]]; the all-pairs form exists
    * for verification and for oracle-checked sampled queries.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val withGrams = docs.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("grams"))
    val a = withGrams.select(col("id").as("id_a"), col("grams").as("g_a"))
    val b = withGrams.select(col("id").as("id_b"), col("grams").as("g_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        (size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
          size(array_union(col("g_a"), col("g_b")))).as("jaccard")
      )
  }

  /** C4-style global chunk dedup WITH corpus rewrite: split every document
    * into fixed-width non-overlapping word chunks, keep only each chunk
    * text's first occurrence corpus-wide (lexicographic (doc_id, position)
    * winner), and re-assemble each document from its surviving chunks in
    * original order. Emits per-document (n_chunks, n_kept, kept_md5) where
    * kept_md5 fingerprints the rewritten text (md5("") for a document that
    * loses every chunk).
    *
    * Scale shape: chunking is MAP-ONLY (`sequence`+`slice`, no
    * explode→groupBy round trip for chunk formation); winner election
    * groups by the chunk's md5 so the exchange carries 128-bit keys + (doc,
    * pos) pairs — document text crosses a shuffle only once, for the
    * rebuild itself, which any rewrite must pay.
    */
  def chunkDedupRewrite(
      docs: DataFrame,
      width: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val words = split(col(textCol), " ")
    val nChunks = floor((size(words) + lit(width - 1)) / lit(width)).cast("int")
    val chunks = transform(
      sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(words, i * width + 1, lit(width)))
    )
    // (doc_id, cpos) packed into ONE bigint so winner election is a plain
    // `min` — a mutable-buffer HashAggregate; `min(struct(...))` would fall
    // back to SortAggregate and buy two per-partition sorts. Non-negative
    // doc ids below 2^32 and cpos below 2^31 by construction (cpos is a
    // posexplode index).
    val exploded = docs
      .select(col(idCol).as("doc_id"), posexplode(chunks).as(Seq("cpos", "chunk")))
      .withColumn("h", md5(col("chunk")))
      .withColumn("packed", col("doc_id") * (1L << 31) + col("cpos"))
    val winners = exploded
      .groupBy(col("h"))
      .agg(min(col("packed")).as("w"))
    // Every chunk's hash has a winner, so the join is total: tag keepers
    // instead of filtering, and fold n_chunks / n_kept / the rebuild into
    // ONE per-document aggregation (collect_list skips the nulls the
    // `when` leaves on losers; a doc that loses everything re-assembles to
    // "" → md5("") with no outer-join/coalesce edge case). Hash-agg +
    // hash-join shapes only — no sort anywhere in the plan.
    val tagged = exploded
      .join(winners, Seq("h"))
      .withColumn("keep", col("packed") === col("w"))
    tagged
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("cpos"), col("chunk"))))),
            s => s.getField("chunk")
          )
        ).as("txt")
      )
      .select(col("doc_id"), col("n_chunks"), col("n_kept"), md5(col("txt")).as("kept_md5"))
  }

  /** Dedup-discounted corpus accounting per source: every document is
    * weighted by 1/|its exact-duplicate cluster| (global md5-of-text
    * clusters, which may span sources), so a copy that appears 40 times
    * contributes its tokens once in total, split across the sources that
    * carry it. `effective_tokens_micro` is the honest corpus size a
    * mixture planner should weight by — raw token counts overstate a
    * crawl-heavy source by exactly its duplication factor, and
    * keep-one-representative accounting misassigns shared documents
    * entirely to the representative's source. Per-doc terms are one
    * round-half-up integer division `(2·10⁶·n_tokens + cs) div (2·cs)`
    * summed as longs — exact in both engines.
    *
    * Plan shape: one corpus scan projects (source, md5, n_tokens) — text
    * is hashed at the scan and never shuffled; cluster sizes are one
    * 128-bit-key aggregation joined back (AQE-splittable if one text
    * dominates); the final per-source rollup is map-side partial. Two
    * exchanges total.
    */
  def effectiveTokenCounts(
      docs: DataFrame,
      srcCol: String = "source",
      textCol: String = "text"
  ): DataFrame = {
    val h = docs.select(
      col(srcCol).as("src"),
      md5(col(textCol)).as("h"),
      graft.ops.TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val cs = h.groupBy(col("h")).agg(count(lit(1)).as("cs"))
    h.join(cs, "h")
      .groupBy(col("src").as(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(expr("(2 * 1000000 * n_tokens + cs) DIV (2 * cs)")).as("effective_tokens_micro"))
  }

  /** Nightly-ingest curation funnel: what a new batch loses at each stage
    * before joining an existing snapshot — exact dup vs snapshot
    * ([[deltaDedup]]'s bloom-prefiltered verify), exact dup WITHIN the
    * batch (min-id representative), near-dup vs snapshot
    * ([[deltaNearDupMd5]]'s indexed probe), then the Gopher quality gate.
    * One row per stage: docs in, docs dropped, tokens dropped — the
    * incremental face of the curation_pipeline composites, where every
    * stage's cost scales with the BATCH (the snapshot is touched only as
    * an index: its hash set and its band keys).
    *
    * Driver state: five (count, token-sum) pairs — bounded. Stage frames
    * are batch-sized projections (id, text, tokens, md5), checkpointed
    * once each so no stage recomputes its predecessors.
    */
  def incrementalIngestReport(
      batch: DataFrame,
      snapshot: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val b = batch.select(
      col(idCol).as("id"), col(textCol).as("text"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("tok"),
      md5(col(textCol)).as("h")).localCheckpoint(eager = true)
    // The exact-vs-snapshot stage probes with b's already-computed md5
    // (deltaDedupHashes) instead of re-hashing the raw batch — one fewer
    // batch text pass (optimization r16, guide §2.4).
    val s1 = b.join(
      deltaDedupHashes(b.select(col("id").as(idCol), col("h")), snapshot, idCol, textCol)
        .filter(col("is_dup") === 1).select(col(idCol).as("id")),
      Seq("id"), "left_anti").localCheckpoint(eager = true)
    val s2 = s1
      .withColumn("keep_id", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("id") === col("keep_id")).drop("keep_id")
      .localCheckpoint(eager = true)
    val s3 = s2.join(
      deltaNearDupMd5(s2.select(col("id").as(idCol), col("text").as(textCol)), snapshot,
        idCol, textCol)
        .filter(col("is_dup") === 1).select(col(idCol).as("id")),
      Seq("id"), "left_anti").localCheckpoint(eager = true)
    val s4 = s3.join(
      TextAnalysis.gopherRules(s3.select(col("id").as("doc_id"), col("text")))
        .filter(col("keep") === 1).select(col("doc_id").as("id")),
      Seq("id"))
    // ONE stats action for all five frames (optimization r16, guide §2.4:
    // the five per-stage count/sum jobs folded into a single union
    // aggregation over the checkpointed stage frames — b..s3 are
    // checkpoint reads, only s4's tail executes here).
    val statRows = Seq(b, s1, s2, s3, s4).zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("stg"), col("tok")) }
      .reduce(_ unionByName _)
      .groupBy(col("stg"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("tok")), lit(0L)).as("t"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def stat(i: Int): (Long, Long) = statRows.getOrElse(i, (0L, 0L))
    val stages = Seq(
      ("1_exact_vs_snapshot", stat(0), stat(1)),
      ("2_exact_in_batch", stat(1), stat(2)),
      ("3_neardup_vs_snapshot", stat(2), stat(3)),
      ("4_quality_gate", stat(3), stat(4)))
    stages.map { case (name, (nIn, tIn), (nOut, tOut)) =>
      (name, nIn, nOut, nIn - nOut, tIn - tOut)
    }.toDF("stage", "n_in", "n_out", "docs_dropped", "tokens_dropped")
  }
}
