package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TimeSeries
import graft.streaming.StreamingHolt

class StreamingHoltSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Batch-operator replay: the dense-grid Holt filter over the same
    * prefix, keyed rows for the emitted (type, hour) cells.
    */
  private def batchReplay(rows: Seq[(String, Long)]): Map[(String, Long), (Long, Long, Long, Long)] = {
    val ev = rows.toDF("event_type", "ts_ms")
    TimeSeries
      .holtHourly(ev)
      .collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600000L) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
  }

  test("streaming Holt emissions bit-equal the batch operator over every prefix") {
    implicit val ctx = spark.sqlContext
    def ts(h: Long, i: Int): Long = h * 3600000L + i
    // batch 1: a ramp on hours 0..3; batch 2 advances to hour 5 AND
    // retro-fills hour 4 with late-but-in-window events
    val b1 = Seq.fill(1)(("a", ts(0, 0))) ++ Seq.fill(2)(("a", ts(1, 1))) ++
      Seq.fill(3)(("a", ts(2, 2))) ++ Seq.fill(4)(("a", ts(3, 3))) ++
      Seq.fill(7)(("b", ts(2, 0)))
    val b2 = Seq.fill(6)(("a", ts(5, 0))) ++ Seq.fill(5)(("a", ts(4, 1)))
    val input = MemoryStream[(String, Long)]
    val latest = scala.collection.concurrent.TrieMap.empty[String, StreamingHolt.TypeHolt]
    val q = StreamingHolt
      .hourlyHolt(input.toDF().toDF("event_type", "ts_ms"))
      .toDF()
      .writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[StreamingHolt.TypeHolt](
          org.apache.spark.sql.Encoders.product[StreamingHolt.TypeHolt])
          .collect()
          .foreach(e => latest.put(e.event_type, e))
      }
      .start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      val replay1 = batchReplay(b1)
      val a1 = latest("a")
      assert(a1.hour == 3L &&
        (a1.cnt, a1.level_x2p24, a1.trend_x2p24, a1.forecast1_x2p24) == replay1(("a", 3L)))
      // the ramp's trend term is genuinely positive (the EWMA can't say this)
      assert(a1.trend_x2p24 > 0L)
      val bb1 = latest("b")
      assert(bb1.hour == 2L &&
        (bb1.cnt, bb1.level_x2p24, bb1.trend_x2p24, bb1.forecast1_x2p24) == replay1(("b", 2L)))
      input.addData(b2)
      q.processAllAvailable()
      // late hour-4 fill heals: the hour-5 emission equals the batch
      // replay of the FULL prefix
      val replay2 = batchReplay(b1 ++ b2)
      val a2 = latest("a")
      assert(a2.hour == 5L &&
        (a2.cnt, a2.level_x2p24, a2.trend_x2p24, a2.forecast1_x2p24) == replay2(("a", 5L)))
    } finally q.stop()
  }
}
