package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SampleKAgg
import graft.streaming.StreamingQuantiles

class StreamingQuantilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def localReplay(
      rows: Seq[(String, Long, Long)], // (key, id, v)
      k: Int
  ): Map[String, StreamingQuantiles.KeyQuantiles] = {
    // exact mirror: fold the same (md5 hash, id, value) triples through
    // the same SampleKAgg, pick the same nearest ranks
    val agg = new SampleKAgg(k)
    def hv(id: Long): Long = {
      val s = "sq-" + id.toString
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    rows.groupBy(_._1).map { case (key, grp) =>
      val buf = grp.foldLeft(agg.zero)((b, r) => agg.reduce(b, (hv(r._2), r._2.toString, r._3)))
      val vals = buf.entries.map(_.value).sorted.toIndexedSeq
      key -> StreamingQuantiles.KeyQuantiles(
        key, buf.n, vals.length,
        StreamingQuantiles.pick(vals, 50), StreamingQuantiles.pick(vals, 99))
    }
  }

  test("streaming KMV quantiles equal the batch replay after every prefix; state stays bounded") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(37)
    val all = (1L to 3000L).map { i =>
      (if (i % 2 == 0) "api" else "batch", i, rnd.nextInt(10000).toLong)
    }
    val (b1, b2) = all.splitAt(1200)
    val input = MemoryStream[(String, Long, Long)]
    val out = StreamingQuantiles.valueQuantiles(
      input.toDF().toDF("key", "id", "v"), "key", "id", "v", k = 64)
    val latest = scala.collection.concurrent.TrieMap.empty[String, StreamingQuantiles.KeyQuantiles]
    val q = out.toDF().writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[StreamingQuantiles.KeyQuantiles](
          org.apache.spark.sql.Encoders.product[StreamingQuantiles.KeyQuantiles])
          .collect().foreach(kq => latest.put(kq.key, kq))
      }
      .start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      val afterB1 = localReplay(b1, 64)
      assert(latest.toMap == afterB1, "prefix-1 mismatch")
      input.addData(b2)
      q.processAllAvailable()
      val afterB2 = localReplay(all, 64)
      assert(latest.toMap == afterB2, "full-stream mismatch")
      // bounded: the sample never exceeds k even though n keeps growing
      assert(latest.values.forall(kq => kq.m <= 64 && kq.n > 64))
    } finally q.stop()
  }
}
