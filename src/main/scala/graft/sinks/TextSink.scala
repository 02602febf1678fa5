package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.model.GameEvent

/** Text sinks — Spark form of the reference's `WriteToText`
  * (reference `utils/WriteToText.java`).
  *
  * Row format is `"k1: v1, k2: v2"` built from an ordered field list
  * (`utils/WriteToText.java:57-70`). Divergence documented in SURVEY §2.2 P6:
  * the reference iterates a `HashMap`, making field order nondeterministic;
  * we take an ordered `Seq`, fixing insertion order so golden tests exist.
  */
object TextSink {

  private val FileSafeFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd-HH-mm-ss-SSS")
    .withZone(GameEvent.OutputZone)

  private def fileSafe(ms: Long): String =
    FileSafeFormat.format(java.time.Instant.ofEpochMilli(ms))

  /** Format rows as `"k1: v1, k2: v2"` — pure column expressions, stays in
    * codegen; at scale this is a scan-speed projection.
    */
  def formatRows(df: DataFrame, fields: Seq[(String, Column)]): DataFrame =
    df.select(
      concat_ws(", ", fields.map { case (name, c) => concat(lit(s"$name: "), c.cast("string")) }: _*)
        .as("line")
    )

  /** Unwindowed text write (`utils/WriteToText.java:142-145`). */
  def write(lines: DataFrame, dir: String): Unit =
    lines.write.mode("overwrite").text(dir)

  /** One file set per window with the reference's filename layout
    * `prefix-<windowStart>-<windowEnd>-<shard>-of-<numShards>`, default 3
    * shards (`utils/WriteToText.java:94-134`). Window bounds are PST; the
    * reference's "yyyy-MM-dd HH:mm:ss.SSS" labels contain ':', which Hadoop
    * `Path` rejects, so the same instants use filesystem-safe separators.
    *
    * As in the reference, each task names the files it writes: one file per
    * (window, shard) group, lines sorted. The shard is a hash of the line,
    * so a file's bytes depend only on its rows, and a task retry or a
    * replayed streaming batch rewrites identical files.
    *
    * Nothing is staged: a job that fails can leave some of its files in
    * `outputDir`. Retries are safe only while speculation stays off (two
    * attempts of one task would write the same files at once);
    * `GraftSession` does not turn it on.
    */
  def writeOneFilePerWindow(
      windowed: DataFrame,
      lineCol: Column,
      outputDir: String,
      prefix: String,
      numShards: Int = 3
  ): Unit = {
    require(numShards >= 1, s"numShards must be at least 1, got $numShards")
    val hadoopConf = windowed.sparkSession.sparkContext.hadoopConfiguration
    new Path(outputDir).getFileSystem(hadoopConf).mkdirs(new Path(outputDir))
    val conf = new SerializableConfiguration(hadoopConf)
    val line = lineCol.cast("string")
    windowed
      .select(unix_millis(col("window_start")).as("ws"), unix_millis(col("window_end")).as("we"),
        pmod(xxhash64(line), lit(numShards)).cast("int").as("shard"), line.as("line"))
      .repartition(col("ws"), col("shard"))
      .sortWithinPartitions("ws", "shard", "line")
      .foreachPartition { (rows: Iterator[Row]) =>
        val fs = new Path(outputDir).getFileSystem(conf.value)
        var key: (Long, Int) = null
        var out: java.io.OutputStream = null
        try rows.foreach { r =>
          val k = (r.getLong(0), r.getInt(2))
          if (k != key) {
            if (out != null) out.close()
            key = k
            val name = f"$prefix-${fileSafe(k._1)}-${fileSafe(r.getLong(1))}-${k._2}%05d-of-$numShards%05d"
            out = fs.create(new Path(outputDir, name), true)
          }
          out.write((r.getString(3) + "\n").getBytes(UTF_8))
        } finally if (out != null) out.close()
      }
  }

  /** Streaming form of [[writeOneFilePerWindow]] (reference K2 under
    * LeaderBoard-style streaming): use as
    * `df.writeStream.foreachBatch(TextSink.streamOneFilePerWindow(lineCol, dir, prefix))`.
    * Update-mode re-emissions of a window land in a new batch subdirectory
    * (`prefix-b<batchId>-...`), so every firing's files coexist and the
    * highest batch id holds the newest accumulated totals — append-only, no
    * cross-batch clobbering, same per-window naming inside a batch.
    */
  def streamOneFilePerWindow(
      lineCol: Column,
      outputDir: String,
      prefix: String,
      numShards: Int = 3
  ): (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    if (!batch.isEmpty) {
      writeOneFilePerWindow(batch, lineCol, outputDir, s"$prefix-b$batchId", numShards)
    }
  }

  /** Managed-table append — the BigQuery-sink analogue
    * (`utils/WriteToBigQuery.java:95-106`): CREATE_IF_NEEDED + WRITE_APPEND
    * become parquet dir append, schema carried by the DataFrame itself.
    */
  def appendTable(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)
}
