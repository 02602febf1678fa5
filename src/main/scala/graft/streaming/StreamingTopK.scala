package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Continuously-updated similarity search: corpus vectors ARRIVE AS A
  * STREAM, the (small, static) query set is broadcast, and each query's
  * running top-k refines as closer neighbors stream in — the
  * incremental-top-k shape from the streaming-similarity literature,
  * expressed with existing pieces: stream-static broadcast join → native
  * cosine → [[graft.functions.TopKAgg]] as a stateful streaming aggregate.
  *
  * State: ONE bounded k-heap per query in the StateStore (O(|queries| × k)
  * total, independent of stream length); each micro-batch's candidates
  * partial-aggregate to ≤ k entries per (partition, query) before the
  * exchange, exactly like the batch path. Run with `outputMode("update")` —
  * each firing emits the refined lists for queries that changed.
  */
object StreamingTopK {

  final case class TopKRow(query_id: Long, neighbor_id: Long, cos_sim: Double, rank: Int)

  /** The refined top-k neighbour list of every query a micro-batch changes.
    *
    * State: the caller owns the partition count and the store, which the
    * query takes from the session when it starts; start it inside
    * [[StatePartitions.withStatePartitions]] to run at [[StatePartitions.Count]].
    */
  def streamingCosineTopK(
      corpusStream: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Dataset[TopKRow] = {
    val spark = corpusStream.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = corpusStream
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id").cast("long").as("query_id"),
        col("neighbor_id").cast("long").as("neighbor_id"),
        round(Similarity.cosine(col("q_vec"), col("c_vec")), 6).as("cos_sim")
      )
    scored
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("topk"))
      .flatMap { case (qid, buf) =>
        buf.entries.iterator.zipWithIndex.map { case (e, i) => TopKRow(qid, e.id, e.score, i + 1) }
      }
  }
}
