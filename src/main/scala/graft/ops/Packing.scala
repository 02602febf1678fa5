package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-packing shard assignment for training-data writers: shard the
  * corpus into `buckets` independent streams (bucket = id % buckets), then
  * within each bucket, in id order, assign each document to pack
  * `floor(cumulative tokens before it / packTokens)` — the token-budget
  * sharding that downstream sequence packers consume.
  *
  * 100 TB shape: packing needs a total order, which is inherently a sort —
  * but only WITHIN a bucket. Buckets are independent, so 1000 executors
  * each sort/scan their own slice (one hash exchange + per-partition sort,
  * no global ordering anywhere). Deterministic: assignment is a pure
  * function of (id, token counts), so re-runs and engines agree —
  * oracle-checkable.
  */
object Packing {

  def tokenPackAssignments(
      docs: DataFrame,
      packTokens: Long = 512L,
      buckets: Int = 32,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(packTokens > 0 && buckets > 0, "packTokens and buckets must be positive")
    val w = Window
      .partitionBy(col("bucket"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(
        col(idCol),
        (col(idCol) % buckets).cast("long").as("bucket"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")
      )
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer division of non-negative longs: exact in both engines
      .withColumn("pack_id", expr(s"cum_before DIV $packTokens"))
      .select(col(idCol), col("bucket"), col("n_tokens"), col("pack_id"))
  }

  /** Whole-document next-fit packing: unlike [[tokenPackAssignments]]'
    * cumulative-DIV assignment (which lets a document straddle a pack
    * boundary), next-fit keeps every document intact — a doc goes into the
    * current pack if it fits the remaining budget, else opens a new pack
    * (a doc larger than the budget gets a pack of its own). This is the
    * packer for loaders that cannot split documents; the price is
    * underfill, which [[tokenPackAssignments]] never pays.
    *
    * The fold is inherently sequential PER BUCKET (each assignment depends
    * on the running fill, with resets — not expressible as a window), so
    * this is the repo's one deliberate `mapPartitions` operator: one hash
    * exchange on bucket + a per-partition sort puts each bucket's docs
    * contiguous and ordered, then a linear state machine walks them
    * (resetting at bucket changes — several buckets may share a
    * partition). Same 100 TB shape as every packer here: buckets fold
    * independently on their executors, nothing global.
    *
    * `byLengthDesc` orders docs (n_tokens desc, id) instead of id order —
    * the sorted-next-fit variant whose waste `packing_order_waste`
    * compares against arrival order. Deterministic either way.
    */
  def nextFitPacks(
      docs: DataFrame,
      packTokens: Long = 512L,
      buckets: Int = 32,
      byLengthDesc: Boolean = false,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(packTokens > 0 && buckets > 0, "packTokens and buckets must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val ordering =
      if (byLengthDesc) Seq(col("bucket"), col("n_tokens").desc, col(idCol))
      else Seq(col("bucket"), col(idCol))
    docs
      .select(
        col(idCol).cast("long"),
        (col(idCol) % buckets).cast("long").as("bucket"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .repartition(col("bucket"))
      .sortWithinPartitions(ordering: _*)
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var bucket = -1L
        var pack = 0L
        var fill = 0L
        it.map { case (id, b, tok) =>
          if (b != bucket) { bucket = b; pack = 0L; fill = 0L }
          else if (fill + tok > packTokens) { pack += 1L; fill = 0L }
          fill += tok
          (id, b, tok, pack)
        }
      }
      .toDF(idCol, "bucket", "n_tokens", "pack_id")
  }

  /** The measured cost of each packing discipline: per ordering (arrival
    * vs length-desc next-fit), the pack count and the underfill share —
    * `sum(max(budget − fill, 0)) / (budget · packs)` in bps (oversized
    * single-doc packs contribute zero waste: no ordering can fix them).
    * Sorting by length is classic bin-packing lore; this row says what it
    * actually buys on THIS corpus before anyone pays the extra sort.
    */
  def orderWasteReport(
      docs: DataFrame,
      packTokens: Long = 512L,
      buckets: Int = 32,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    def leg(name: String, desc: Boolean): DataFrame =
      nextFitPacks(docs, packTokens, buckets, desc, idCol, textCol)
        .groupBy(col("bucket"), col("pack_id"))
        .agg(sum(col("n_tokens")).as("fill"))
        .agg(
          count(lit(1)).as("n_packs"),
          sum(col("fill")).as("n_tokens"),
          sum(greatest(lit(packTokens) - col("fill"), lit(0L))).as("underfill"))
        .select(
          lit(name).as("ordering"), col("n_packs"), col("n_tokens"), col("underfill"),
          expr(s"CAST((2 * 10000 * underfill + $packTokens * n_packs)" +
            s" div (2 * $packTokens * n_packs) AS INT)").as("underfill_bps"))
    leg("arrival", desc = false).unionByName(leg("length_desc", desc = true))
  }

  /** Budget sweep over [[nextFitPacks]] (arrival order): pack count and
    * underfill share per candidate token budget. Underfill is NOT
    * monotone in the budget — a budget just above the doc-length mode
    * wastes most (every pack holds one doc plus an unusable tail), so the
    * context-length choice wants this measured curve, not intuition.
    */
  def budgetWasteSweep(
      docs: DataFrame,
      budgets: Seq[Long] = Seq(128L, 256L, 512L, 1024L),
      buckets: Int = 32,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    budgets.map { b =>
      nextFitPacks(docs, b, buckets, byLengthDesc = false, idCol, textCol)
        .groupBy(col("bucket"), col("pack_id"))
        .agg(sum(col("n_tokens")).as("fill"))
        .agg(
          count(lit(1)).as("n_packs"),
          sum(col("fill")).as("n_tokens"),
          sum(greatest(lit(b) - col("fill"), lit(0L))).as("underfill"))
        .select(
          lit(b).as("pack_budget"), col("n_packs"), col("n_tokens"), col("underfill"),
          expr(s"CAST((2 * 10000 * underfill + $b * n_packs)" +
            s" div (2 * $b * n_packs) AS INT)").as("underfill_bps"))
    }.reduce(_ unionByName _)

  /** Concat-and-chunk (GPT-style) packing economics, per candidate
    * budget: documents are concatenated in id order into one token
    * stream and cut every `budget` tokens — waste collapses to the final
    * chunk's tail BY CONSTRUCTION, but every cut lands inside some
    * document. This row prices that trade: how many docs get split (the
    * attention-contamination the whole-doc next-fit family avoids), how
    * many extra fragments the cuts create, and the tail waste — read
    * NEXT TO [[budgetWasteSweep]]'s underfill curve when choosing
    * between the two disciplines.
    *
    * Doc d with inclusive token span [cum_before, cum_end) is split iff
    * its span crosses a budget boundary: ⌊cum_before/b⌋ ≠ ⌊(cum_end−1)/b⌋;
    * crossings = the difference, fragments = crossings + 1. The global
    * offsets come from ONE [[Ranking.runningTotals]] pass (ids-only
    * frame), shared by every budget; each budget's close is map-side
    * arithmetic + a 1-row aggregate.
    */
  def splitPackingReport(
      docs: DataFrame,
      budgets: Seq[Long] = Seq(128L, 256L, 512L, 1024L),
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ >= 1), "budgets must be >= 1")
    val cum = Ranking
      .runningTotals(
        docs.select(
          col(idCol).cast("long").as("id"),
          TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
          .filter(col("n_tokens") > 0),
        Seq(col("id").asc),
        Seq("n_tokens"))
      .withColumn("cum_before", col("cum_n_tokens") - col("n_tokens"))
    budgets.map { b =>
      cum
        .select(
          col("n_tokens"),
          (expr(s"(cum_n_tokens - 1) DIV $b") - expr(s"cum_before DIV $b")).as("crossings"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("crossings")).as("n_extra_fragments"),
          sum(when(col("crossings") > 0, 1L).otherwise(0L)).as("n_docs_split"))
        .select(
          lit(b).as("pack_budget"), col("n_docs"), col("n_tokens"),
          expr(s"(n_tokens + $b - 1) DIV $b").as("n_seqs"),
          col("n_docs_split"), col("n_extra_fragments"),
          expr("CAST((2 * 10000 * n_docs_split + n_docs) div (2 * n_docs) AS INT)")
            .as("split_share_bps"),
          expr(s"(n_tokens + $b - 1) DIV $b * $b - n_tokens").as("tail_waste"))
    }.reduce(_ unionByName _)
  }

  /** Padding economics of length-sorted batching — the seq2seq lore
    * ("bucket by length before batching"), priced on THIS corpus: fixed
    * batches of `batchSize` consecutive docs under arrival (id) order vs
    * (n_tokens, id) order; each batch pads every member to its max
    * length, so waste = Σ(batch_max − len). Both orderings rank through
    * [[Ranking.globalRowNumber]] (no unpartitioned window), batch
    * membership is a closed-form of the rank, and each leg closes with
    * one bounded aggregation. Output: per ordering, batch count, real vs
    * padding tokens, and the padding share of the padded matrix in bps.
    */
  def paddingWasteReport(
      docs: DataFrame,
      batchSize: Int = 32,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val base = docs
      .select(
        col(idCol).cast("long").as("id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .localCheckpoint(eager = true) // ids-only; ranked twice below
    def leg(name: String, order: Seq[org.apache.spark.sql.Column]): DataFrame =
      Ranking.globalRowNumber(base, order, "rk")
        .withColumn("batch", expr(s"(rk - 1) DIV $batchSize"))
        .groupBy(col("batch"))
        .agg(
          count(lit(1)).as("n_in_batch"),
          max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("toks"))
        .agg(
          count(lit(1)).as("n_batches"),
          sum(col("toks")).as("n_tokens"),
          sum(col("max_len") * col("n_in_batch") - col("toks")).as("padding_tokens"))
        .select(
          lit(name).as("ordering"), col("n_batches"), col("n_tokens"), col("padding_tokens"),
          expr("CAST((2 * 10000 * padding_tokens + n_tokens + padding_tokens)" +
            " div (2 * (n_tokens + padding_tokens)) AS INT)").as("padding_share_bps"))
    leg("arrival", Seq(col("id").asc))
      .unionByName(leg("length_sorted", Seq(col("n_tokens").asc, col("id").asc)))
  }

  /** Contrastive-training batch assignment under the in-batch-negatives
    * constraint: NO two same-label items share a batch (same-label
    * co-occurrence would make an in-batch "negative" actually positive —
    * the classic contrastive-loss corruption). Each label's members are
    * dealt round-robin across `maxLabelCount` batches, so the constraint
    * holds by construction: a label with c members lands in c DISTINCT
    * batches because c ≤ maxLabelCount.
    *
    * Deterministic (rank within label by id), two bounded exchanges (one
    * count agg — the driver holds ONE scalar, the max label frequency —
    * and one label-partitioned window; never a global sort). At 100 TB
    * the window partitions by label, so skew follows label skew — exactly
    * the quantity the max-count scalar already measured.
    */
  def contrastiveBatches(
      df: DataFrame,
      idCol: String = "vec_id",
      labelCol: String = "label"
  ): DataFrame = {
    val nBatches = df.groupBy(col(labelCol)).count().agg(max("count")).head().getLong(0)
    val w = Window.partitionBy(col(labelCol)).orderBy(col(idCol))
    df
      .select(col(idCol), col(labelCol))
      .withColumn("rk", row_number().over(w))
      .select(
        col(idCol),
        col(labelCol),
        ((col("rk") - 1) % nBatches).cast("int").as("batch"))
  }
}
