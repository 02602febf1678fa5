package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StatefulScores

class StatefulScoresSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** With ProcessingTimeTimeout the engine keeps scheduling timer-check
    * batches, which starves `processAllAvailable` (its no-new-data latch
    * resets every batch) — poll the sink for the expected state instead.
    */
  private def awaitSink(table: String)(pred: Array[org.apache.spark.sql.Row] => Boolean): Array[org.apache.spark.sql.Row] = {
    val deadline = System.nanoTime() + 60_000_000_000L
    var rows = spark.table(table).collect()
    while (!pred(rows) && System.nanoTime() < deadline) {
      Thread.sleep(200)
      rows = spark.table(table).collect()
    }
    rows
  }

  test("userTotalsWithTtl accumulates across micro-batches (custom state)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val q = StatefulScores
      .userTotalsWithTtl(input.toDS(), ttlMinutes = 60)
      .writeStream
      .format("memory")
      .queryName("ttl_user")
      .outputMode("update")
      .start()
    try {
      input.addData(Seq("a" -> 5, "b" -> 3, "a" -> 2))
      awaitSink("ttl_user")(_.exists(_.getAs[String]("user") == "b"))
      input.addData(Seq("a" -> 10))
      val rows = awaitSink("ttl_user")(_.exists(r => r.getAs[String]("user") == "a" && r.getAs[Long]("total_score") == 17L))
      val latest = rows.zipWithIndex
        .groupBy(_._1.getAs[String]("user"))
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      assert(latest("a").getAs[Long]("total_score") == 17L)
      assert(latest("a").getAs[Long]("events") == 3L)
      assert(latest("b").getAs[Long]("total_score") == 3L)
    } finally q.stop()
  }

  test("userTotalsTws: transformWithState accumulates across micro-batches (RocksDB store)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val q = StatefulScores
      .userTotalsTws(input.toDS(), ttlMinutes = 60)
      .writeStream
      .format("memory")
      .queryName("tws_user")
      .outputMode("update")
      .start()
    try {
      input.addData(Seq("a" -> 5, "b" -> 3, "a" -> 2))
      awaitSink("tws_user")(_.exists(_.getAs[String]("user") == "b"))
      input.addData(Seq("a" -> 10, "c" -> 1))
      val rows = awaitSink("tws_user")(rs =>
        rs.exists(r => r.getAs[String]("user") == "a" && r.getAs[Long]("total_score") == 17L) &&
          rs.exists(_.getAs[String]("user") == "c"))
      val latest = rows.zipWithIndex
        .groupBy(_._1.getAs[String]("user"))
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      assert(latest("a").getAs[Long]("total_score") == 17L)
      assert(latest("a").getAs[Long]("events") == 3L)
      assert(latest("b").getAs[Long]("total_score") == 3L)
      assert(latest("c").getAs[Long]("total_score") == 1L)
    } finally q.stop()
  }
}
