package graft

import java.util.SplittableRandom

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.apps.LeaderBoardApp
import graft.ops.Parse

/** The state partition curve of LeaderBoardApp's two queries (parquet
  * appends, RocksDB state store, trigger interval 0) on one
  * `GraftSession.local` session. For each state size (distinct users) and
  * each state partition count, the queries start at that count, take a
  * backfill batch with every user once, 3 untimed and then `timed` timed
  * 1,000-line batches of users drawn uniformly from the same pool, each
  * batch added only after both queries committed the one before. Sizes and
  * counts are interleaved round by round so machine drift lands on each of
  * them alike.
  *
  * Prints one line per (size, count): the median events/s of the timed
  * batches over the rounds, the state rows both queries hold at the end,
  * the median state commit time per query batch, and the partition count
  * the queries reported.
  *
  * Run: `Test/runMain graft.StatePartitionsDiag [sizes] [counts] [rounds] [timed]`
  * (defaults 300,46000,460000 1,2,4 2 20; cores from `$SPARK_GRAFT_CPUS`,
  * default 4).
  */
object StatePartitionsDiag {
  private val Teams = Array.tabulate(15)(i => s"Team$i")
  private val T0 = 1_700_000_000_000L / 3_600_000L * 3_600_000L
  private val StepMs = 6 * 60_000L

  /** One batch of CSV lines for users `user0..user{pool-1}`: every user in
    * order when `all`, else `n` uniform draws; event times fall in batch
    * `b`'s 6-minute step.
    */
  private def batch(r: SplittableRandom, pool: Int, b: Int, all: Boolean, n: Int): Seq[String] =
    (0 until (if (all) pool else n)).map { i =>
      val u = if (all) i else r.nextInt(pool)
      s"user$u,${Teams(u % Teams.length)},${r.nextInt(20)},${T0 + b * StepMs + r.nextLong(StepMs)},x"
    }

  private final case class Run(pool: Int, parts: Int, eps: Double, rows: Long, commitMs: Double, reported: Seq[Int])

  private def run(spark: SparkSession, pool: Int, parts: Int, timed: Int, seed: Long): Run = {
    val input = MemoryStream[String](Encoders.STRING, spark.sqlContext)
    val parsed = Parse.parseGameEvents(input.toDF())
      .select(col("user"), col("team"), col("score"), col("event_time"))
    val out = java.nio.file.Files.createTempDirectory("state-partitions-diag").toFile
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toLong)
    val queries =
      try LeaderBoardApp.startAtSessionPartitions(parsed, out.getPath, 60, 120, triggerMillis = 0L)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    def feed(lines: Seq[String]): Unit = {
      val off = input.addData(lines).json.toLong
      def done(q: org.apache.spark.sql.streaming.StreamingQuery) = {
        q.exception.foreach(e => throw e)
        val p = q.lastProgress
        p != null && p.sources.nonEmpty && Option(p.sources.head.endOffset).exists(_.toLong >= off)
      }
      while (!queries.forall(done)) Thread.sleep(1)
    }
    try {
      val r = new SplittableRandom(seed)
      feed(batch(r, pool, 0, all = true, 0))
      for (b <- 1 to 3) feed(batch(r, pool, b, all = false, 1000))
      val lastWarm = queries.map(_.lastProgress.batchId)
      val t0 = System.nanoTime()
      for (b <- 4 until 4 + timed) feed(batch(r, pool, b, all = false, 1000))
      val eps = timed * 1000.0 / ((System.nanoTime() - t0) / 1e9)
      val ops = queries.zip(lastWarm).flatMap { case (q, w) =>
        q.recentProgress.toSeq.filter(p => p.batchId > w && p.numInputRows > 0).flatMap(_.stateOperators.toSeq)
      }
      val rows = queries.map(_.lastProgress.stateOperators.head.numRowsTotal).sum
      Run(pool, parts, eps, rows, median(ops.map(_.commitTimeMs.toDouble)), ops.map(_.numShufflePartitions.toInt).distinct)
    } finally {
      queries.foreach(_.stop())
      org.apache.commons.io.FileUtils.deleteQuietly(out)
    }
  }

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  def main(args: Array[String]): Unit = {
    def ints(i: Int, default: Seq[Int]) = args.lift(i).map(_.split(",").map(_.toInt).toSeq).getOrElse(default)
    val pools = ints(0, Seq(300, 46000, 460000))
    val counts = ints(1, Seq(1, 2, 4))
    val rounds = args.lift(2).map(_.toInt).getOrElse(2)
    val timed = args.lift(3).map(_.toInt).getOrElse(20)
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val spark = GraftSession.local(cores = cores, appName = "state-partitions-diag")
    try {
      run(spark, 300, 1, 5, seed = 0) // JIT and first-query warm-up, not reported
      val runs = for (round <- 1 to rounds; pool <- pools; p <- counts) yield {
        val x = run(spark, pool, p, timed, seed = round)
        System.err.println(f"round $round: $pool users, $p partitions: ${x.eps}%.0f events/s")
        x
      }
      println("users | statePartitions | events/s (median) | state rows | state commit ms/query batch (median) | reported partitions")
      for (((pool, p), rs) <- runs.groupBy(x => (x.pool, x.parts)).toSeq.sortBy(_._1)) println(
        f"$pool | $p | ${median(rs.map(_.eps))}%.0f | ${rs.map(_.rows).max} | ${median(rs.map(_.commitMs))}%.0f | " +
          rs.flatMap(_.reported).distinct.mkString(",") +
          s"  (events/s per round: ${rs.map(x => f"${x.eps}%.0f").mkString(", ")})"
      )
    } finally spark.stop()
  }
}
