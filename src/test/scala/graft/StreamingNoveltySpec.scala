package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingNovelty

class StreamingNoveltySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bloomFlags: repeats always flagged seen (cross- and in-batch), fresh docs new") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val flags = StreamingNovelty.bloomFlags(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = flags.toDF().writeStream
      .format("memory").queryName("sn_out").outputMode("update").start()
    try {
      input.addData(Seq(
        (1L, "alpha document content"),
        (2L, "beta document content"),
        (3L, "alpha document content"))) // in-batch dup of 1: higher id sees it
      q.processAllAvailable()
      input.addData(Seq(
        (4L, "alpha document content"), // cross-batch dup
        (5L, "gamma document content"))) // fresh
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sn_out")
      .select("doc_id", "seen").as[(Long, Boolean)].collect().toMap
    // Bloom has NO false negatives: every repeat is seen
    assert(got(3L) && got(4L))
    // planted distinct docs stay new at this (mBits, k, fill) point
    assert(!got(1L) && !got(2L) && !got(5L))
  }

  test("bloomFlags: flags are a pure function of the processed prefix (replay equality)") {
    def run(name: String): Map[Long, Boolean] = {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val flags = StreamingNovelty.bloomFlags(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", nShards = 8)
      val q = flags.toDF().writeStream
        .format("memory").queryName(name).outputMode("update").start()
      try {
        input.addData((1L to 40L).map(i => (i, s"doc number ${i % 25}")))
        q.processAllAvailable()
        input.addData((41L to 60L).map(i => (i, s"doc number ${i % 25}")))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).select("doc_id", "seen").as[(Long, Boolean)].collect().toMap
    }
    val a = run("sn_rep_a")
    val b = run("sn_rep_b")
    assert(a == b)
    // 25 distinct contents: exactly the first occurrence of each is new
    assert(a.count(!_._2) == 25)
    assert(a.size == 60)
  }
}
