package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.generator.{Injector, InjectorConfig}
import graft.model.GameEvent
import graft.streaming.EventSource

class EventSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("BatchFiles mode reads and parses injector-written files, drops corrupt lines") {
    val dir = java.nio.file.Files.createTempDirectory("events").toFile
    val path = new java.io.File(dir, "events.csv").getAbsolutePath
    val cfg = InjectorConfig(corruptRate = 50) // force some corrupt lines
    val n = 500
    Injector.writeLines(cfg, n, path)
    val expectedGood = Injector.generate(cfg, n).count(_.event.isDefined)
    val df = EventSource.readEvents(spark, EventSource.BatchFiles(path))
    assert(df.columns.toSet == Set("user", "team", "score", "timestamp", "event_time"))
    assert(df.count() == expectedGood)
  }

  test("SyntheticStream mode yields the parsed schema from a rate source") {
    val df = EventSource.readEvents(spark, EventSource.SyntheticStream(rowsPerBatch = 100))
    assert(df.isStreaming)
    assert(df.columns.toSet == Set("user", "team", "score", "timestamp", "event_time"))
    val q = df.writeStream.format("memory").queryName("synth_src").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally q.stop()
    assert(spark.table("synth_src").count() == 100)
  }

  test("SyntheticStream: three AvailableNow runs on one checkpoint admit 500/500/500 rows, equal to Injector.generate") {
    val cfg = InjectorConfig(seed = 5)
    // 500 rows per batch arrive 1000 / 500 = 2 ms apart
    val expected = Injector.generate(cfg.copy(meanGapMillis = 2L), 1500)
    assert(expected.forall(_.event.isDefined)) // every line parses, so rows in = rows out
    val dir = java.nio.file.Files.createTempDirectory("synthetic").toString
    val admitted = (1 to 3).map { _ =>
      val q = EventSource.readEvents(spark, EventSource.SyntheticStream(rowsPerBatch = 500, cfg = cfg))
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$dir/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start(s"$dir/out")
      try q.awaitTermination()
      finally q.stop()
      (q.recentProgress.map(_.numInputRows).sum, spark.read.parquet(s"$dir/out").count())
    }
    assert(admitted == Seq((500L, 500L), (500L, 1000L), (500L, 1500L)))
    // rebuild each line from its parsed fields (the readable date is derived)
    val lines = spark.read.parquet(s"$dir/out")
      .select("user", "team", "score", "timestamp").as[(String, String, Int, Long)].collect()
      .map { case (u, t, s, ms) => s"$u,$t,$s,$ms,${GameEvent.formatMillis(ms)}" }
    assert(lines.sorted.toSeq == expected.map(_.line).sorted)
  }
}
