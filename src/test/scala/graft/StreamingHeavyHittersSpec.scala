package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingHeavyHitters

class StreamingHeavyHittersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bounded-state sketch finds stream heavy hitters across batches") {
    implicit val ctx = spark.sqlContext
    // transformWithState needs column families → RocksDB provider
    val rnd = new scala.util.Random(23)
    def batch(n: Int): Seq[String] = Seq.fill(n) {
      val r = rnd.nextInt(100)
      if (r < 25) "hot1" else if (r < 40) "hot2" else s"cold${rnd.nextInt(2000)}"
    }
    val input = MemoryStream[String]
    val sketches = StreamingHeavyHitters.shardSketches(
      input.toDF().toDF("item"), "item", capacity = 16, shards = 4)
    @volatile var lastCandidates = Set.empty[String]
    val q = sketches.toDF().writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val cands = StreamingHeavyHitters.candidates(b, minCount = 1L)
          .select("item").as[String](org.apache.spark.sql.Encoders.STRING)
          .collect().toSet
        if (cands.nonEmpty) lastCandidates = cands
      }
      .start()
    try {
      input.addData(batch(4000))
      q.processAllAvailable()
      input.addData(batch(4000))
      q.processAllAvailable()
      input.addData(batch(4000))
      q.processAllAvailable()
    } finally q.stop()
    // Both true heavy hitters (25% / 15% of 12k items, vs shard threshold
    // shardTotal/17) must be in the final candidate set.
    assert(lastCandidates.contains("hot1"), s"hot1 missing from $lastCandidates")
    assert(lastCandidates.contains("hot2"), s"hot2 missing from $lastCandidates")
    // bounded: never more than shards × capacity candidates
    assert(lastCandidates.size <= 4 * 16)
  }

  test("cmsBuild runs unchanged as a streaming aggregation and converges to the batch sketch") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    val all = Seq.fill(6000)(s"tok${rnd.nextInt(500)}")
    val (depth, width) = (4, 64)
    val input = MemoryStream[String]
    // the SAME operator as batch — a streaming groupBy over (j, bucket)
    // whose state is exactly the ≤ depth·width sketch counters
    val sketch = graft.ops.HeavyHitters.cmsBuild(
      input.toDF().toDF("token"), "token", depth, width)
    val q = sketch.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("cms_stream")
      .start()
    try {
      val (a, b) = all.splitAt(2500)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cms_stream")
      .as[(Int, Long, Long)].collect().toSet
    val batch = graft.ops.HeavyHitters.cmsBuild(all.toDF("token"), "token", depth, width)
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size <= depth * width)
  }

  test("hllRegisters streams: register state is bounded and converges to the batch registers") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(59)
    val all = Seq.fill(4000)(s"u${rnd.nextInt(1200)}")
    val input = MemoryStream[String]
    val regs = graft.ops.HeavyHitters.hllRegisters(input.toDF().toDF("token"), "token")
    val q = regs.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hll_stream")
      .start()
    try {
      all.grouped(1500).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("hll_stream").as[(Int, Int)].collect().toSet
    val batch = graft.ops.HeavyHitters.hllRegisters(all.toDF("token"), "token")
      .as[(Int, Int)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size <= 64) // distinct-counting state never exceeds m registers
  }

  test("windowed HLL registers: per-window distinct state, watermark drops late rows") {
    implicit val ctx = spark.sqlContext
    import java.sql.Timestamp
    // base aligned to the 10-minute window grid (windows align to epoch)
    def ts(min: Int): Timestamp = new Timestamp(1700000400000L + min * 60000L)
    val input = MemoryStream[(Timestamp, String)]
    val regs = graft.ops.HeavyHitters.hllRegistersWindowed(
      input.toDF().toDF("ts", "user").withWatermark("ts", "5 minutes"),
      "user", "ts", "10 minutes")
    val q = regs.writeStream
      .outputMode("update")
      .format("memory")
      .queryName("hll_win_stream")
      .start()
    val w0users = (1 to 300).map(i => s"u$i")
    val w1users = (1 to 150).map(i => s"v$i")
    try {
      input.addData(w0users.map(u => (ts(2), u)))
      q.processAllAvailable()
      input.addData(w1users.map(u => (ts(12), u)))
      input.addData(Seq((ts(25), "advance-watermark")))
      q.processAllAvailable()
      // watermark is now ~minute 20 → window [0,10) is closed: this late
      // row must NOT change its registers
      input.addData(Seq((ts(3), "late-user-should-drop")))
      q.processAllAvailable()
    } finally q.stop()
    // update-mode memory sink: last emission per (win, bucket) is current
    val streamed = spark.table("hll_win_stream")
      .groupBy($"win.start", $"bucket")
      .agg(org.apache.spark.sql.functions.last($"rho").as("rho"))
      .as[(Timestamp, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    val batchW0 = graft.ops.HeavyHitters.hllRegisters(w0users.toDF("user"), "user")
      .as[(Int, Int)].collect().toSet
    assert(streamed(ts(0)) == batchW0, "window [0,10) must equal batch registers sans the late row")
    assert(streamed.keys.toSet.contains(ts(10)))
    streamed.values.foreach(s => assert(s.size <= 64))
  }
}
