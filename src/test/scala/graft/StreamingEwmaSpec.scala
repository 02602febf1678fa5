package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TimeSeries
import graft.streaming.StreamingEwma

class StreamingEwmaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Batch-operator replay: the dense-grid EWMA over the same prefix,
    * keyed rows for the emitted (type, hour) cells.
    */
  private def batchReplay(rows: Seq[(String, Long)]): Map[(String, Long), (Long, Long)] = {
    val ev = rows.map { case (t, tsMs) => (t, tsMs) }.toDF("event_type", "ts_ms")
    TimeSeries
      .ewmaHourly(ev)
      .collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600000L) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  test("streaming EWMA emissions bit-equal the batch operator over every prefix") {
    implicit val ctx = spark.sqlContext
    def ts(h: Long, i: Int): Long = h * 3600000L + i
    // batch 1: hours 0..3 with distinct counts; batch 2 advances to hour 5
    // AND retro-fills hour 4 late-but-in-window events
    val b1 = Seq.fill(4)(("a", ts(0, 0))) ++ Seq.fill(2)(("a", ts(1, 1))) ++
      Seq.fill(8)(("a", ts(3, 2))) ++ Seq.fill(3)(("b", ts(2, 0)))
    val b2 = Seq.fill(5)(("a", ts(5, 0))) ++ Seq.fill(6)(("a", ts(4, 1))) // hour 4 late, in-window
    val input = MemoryStream[(String, Long)]
    val latest = scala.collection.concurrent.TrieMap.empty[String, StreamingEwma.TypeEwma]
    val q = StreamingEwma
      .hourlyEwma(input.toDF().toDF("event_type", "ts_ms"))
      .toDF()
      .writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[StreamingEwma.TypeEwma](
          org.apache.spark.sql.Encoders.product[StreamingEwma.TypeEwma])
          .collect()
          .foreach(e => latest.put(e.event_type, e))
      }
      .start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      val replay1 = batchReplay(b1)
      // each key's emission carries its CURRENT max hour and matches batch
      val a1 = latest("a")
      assert(a1.hour == 3L && (a1.cnt, a1.ewma_x65536) == replay1(("a", 3L)))
      val bb1 = latest("b")
      assert(bb1.hour == 2L && (bb1.cnt, bb1.ewma_x65536) == replay1(("b", 2L)))
      input.addData(b2)
      q.processAllAvailable()
      // after the late hour-4 fill, the hour-5 emission equals the batch
      // replay of the FULL prefix (late data inside the window heals)
      val replay2 = batchReplay(b1 ++ b2)
      val a2 = latest("a")
      assert(a2.hour == 5L && (a2.cnt, a2.ewma_x65536) == replay2(("a", 5L)))
    } finally q.stop()
  }

  test("events beyond the 16-hour truncation horizon are dropped, matching batch truncation") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val latest = scala.collection.concurrent.TrieMap.empty[String, StreamingEwma.TypeEwma]
    val q = StreamingEwma
      .hourlyEwma(input.toDF().toDF("event_type", "ts_ms"))
      .toDF()
      .writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[StreamingEwma.TypeEwma](
          org.apache.spark.sql.Encoders.product[StreamingEwma.TypeEwma])
          .collect()
          .foreach(e => latest.put(e.event_type, e))
      }
      .start()
    try {
      input.addData(Seq(("a", 20L * 3600000L)))
      q.processAllAvailable()
      val before = latest("a").ewma_x65536
      input.addData(Seq(("a", 0L))) // 20 hours old: outside the window
      q.processAllAvailable()
      assert(latest("a").ewma_x65536 == before, "out-of-horizon event must not change the state")
      // batch agrees: hour-0 mass contributes nothing to the hour-20 cell
      val replay = batchReplay(Seq(("a", 20L * 3600000L), ("a", 0L)))
      assert(replay(("a", 20L)) == (1L, latest("a").ewma_x65536))
    } finally q.stop()
  }
}
