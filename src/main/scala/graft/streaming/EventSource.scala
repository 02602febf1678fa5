package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.generator.{Injector, InjectorConfig}
import graft.ops.Parse

/** One source surface for the reference's two ingestion modes (SURVEY §7.4
  * risk 6): bounded text files (`TextIO.read`, `UserScore.java:138`) and an
  * unbounded stream (`PubsubIO`, `LeaderBoard.java:144-145`) — a tailed
  * file directory or the seeded synthetic stream — all yielding the same
  * parsed event schema (`user`, `team`, `score`, `timestamp`, `event_time`).
  */
object EventSource {

  sealed trait Config
  /** Bounded: newline CSV files, glob patterns supported. */
  final case class BatchFiles(pathOrGlob: String) extends Config
  /** Unbounded: tail newline CSV files appearing under a directory. */
  final case class StreamFiles(dir: String) extends Config
  /** Unbounded: the seeded injector on Spark's `rate-micro-batch` source,
    * the analogue of the reference's Pub/Sub injector loop
    * (`injector/Injector.java:220-239`). Micro-batch `k` admits exactly
    * rows `k * rowsPerBatch until (k + 1) * rowsPerBatch`, and row `i` is
    * [[graft.generator.Injector.lineAt]] arriving at
    * `startMillis + i * 1000 / rowsPerBatch`: the stream runs at
    * `rowsPerBatch` events per second of event time, so at a 1 s trigger
    * event time keeps pace with the clock, and `cfg.meanGapMillis` does not
    * apply. A stream replays from its checkpoint, and its first `n` rows
    * are `Injector.generate(cfg, n)` when `meanGapMillis` is
    * `1000 / rowsPerBatch`.
    */
  final case class SyntheticStream(rowsPerBatch: Long = 2000L, cfg: InjectorConfig = InjectorConfig())
      extends Config

  /** Parsed events from any source mode. Malformed lines are dropped and
    * counted per the reference parser's contract (`UserScore.java:68-88`).
    */
  def readEvents(spark: SparkSession, config: Config): DataFrame = config match {
    case BatchFiles(path) =>
      Parse.parseGameEvents(spark.read.text(path), observe = true)
    case StreamFiles(dir) =>
      Parse.parseGameEvents(spark.readStream.text(dir))
    case SyntheticStream(rowsPerBatch, cfg) =>
      import spark.implicits._
      val teams = Injector.teams(cfg)
      val lines = spark.readStream
        .format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch)
        .load()
        .select(col("value"))
        .as[Long]
        .map(i => Injector.lineAt(cfg, teams, i, cfg.startMillis + i * 1000 / rowsPerBatch).line)
        .toDF("value")
      Parse.parseGameEvents(lines)
  }
}
