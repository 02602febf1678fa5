package graft

import org.apache.spark.sql.functions._

/** Dev harness: stage-by-stage timing of the heavy dedup/similarity queries.
  * Not part of the driver contract; run ad hoc via
  * `sbt "runMain graft.Profile /root/testdata/sf0.1"`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"TIMER $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.count() // warm page cache + codegen

    // --- minhash_pairs stage breakdown ---
    import graft.ops.Dedup
    val withSig = docs.select(
      col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), 3, 64, 42L).as("sig")
    )
    time("sig_only")(withSig.agg(count(lit(1))).collect())
    val banded = withSig
      .filter(col("sig").isNotNull)
      .select(col("id"), explode(Dedup.lshBandHashes(col("sig"), 16, 4)).as("band_hash"))
    time("banded")(banded.agg(count(lit(1))).collect())
    val pairsRaw = banded
      .groupBy(col("band_hash"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, 1000))
    time("buckets")(pairsRaw.agg(count(lit(1))).collect())
    val full = time("minhash_pairs_full")(Dedup.minhashPairs(docs).count())
    println(s"minhash pairs count: $full")
    val full2 = time("minhash_pairs_again")(Dedup.minhashPairs(docs).count())
    println(s"again: $full2")

    // --- simhash breakdown ---
    time("simhash_fp_only")(
      docs.select(Dedup.simhash64(col("text")).as("fp")).agg(count(lit(1))).collect()
    )
    val sp = time("simhash_pairs_full")(
      Dedup.simhashNearDupPairs(docs, maxHamming = 3, chunks = 4, maxBucket = 500).count()
    )
    println(s"simhash pairs count: $sp")

    // --- neardup corpus ---
    time("neardup_corpus_full")(
      Dedup.dropNearDuplicates(docs, Dedup.minhashPairs(docs, threshold = 0.8)).count()
    )

    // --- ann brute force ---
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    emb.count()
    time("ann_cosine_topk")(
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5).count()
    )
    time("ann_cosine_topk_again")(
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5).count()
    )

    // --- user_sessions ---
    val q = SparkEntry.queries
    time("user_sessions")(q("user_sessions")(spark, dir).count())
    time("repetition_stats")(q("repetition_stats")(spark, dir).count())
    time("value_percentiles")(q("value_percentiles")(spark, dir).count())
    time("sql_correlated_max")(q("sql_correlated_max")(spark, dir).count())
    time("curation_pipeline")(q("curation_pipeline")(spark, dir).count())
    spark.stop()
  }
}
