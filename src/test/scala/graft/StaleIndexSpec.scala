package graft

import org.scalatest.funsuite.AnyFunSuite

/** The stale-index regeneration pin: the built-once-into-the-warehouse
  * query paths key their cache location by `SparkEntry.contentKey` (the
  * source table's file names, lengths and modification times), so
  * regenerating the table IN PLACE (same dir, different rows) must trigger
  * a rebuild — with a dir-path-only key, or one on row count and max id,
  * the second run serves the first corpus's index.
  */
class StaleIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Writes `documents` under `dir` (overwrite, one file). */
  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("bm25_topk_indexed rebuilds when only the text changes (same count, same ids)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stale_text").toString
    writeDocs(dir, Seq(
      (1L, "the table scan runs first"),
      (2L, "merge the table later"),
      (3L, "scan and merge the rest")))
    val fn = SparkEntry.queries("bm25_topk_indexed")
    val r1 = fn(spark, dir).collect().map(_.toString).toSet
    writeDocs(dir, Seq(
      (1L, "nothing here"),
      (2L, "merge merge merge the queue"),
      (3L, "table table scan scan")))
    val r2 = fn(spark, dir).collect().map(_.toString).toSet
    assert(r1 != r2, "a same-count, same-ids regeneration served a stale postings index")
  }

  test("phrase_match_indexed rebuilds when documents is regenerated in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stale_phrase").toString
    writeDocs(dir, Seq((1L, "a table hash join"), (2L, "no phrase here")))
    val fn = SparkEntry.queries("phrase_match_indexed")
    val r1 = fn(spark, dir).collect().map(_.toString).toSet
    writeDocs(dir, Seq((1L, "no phrase here"), (2L, "table hash then table hash again")))
    val r2 = fn(spark, dir).collect().map(_.toString).toSet
    assert(r1.nonEmpty && r1 != r2, "a regenerated documents table served a stale positional index")
  }

  test("bm25_topk_indexed rebuilds when documents is regenerated in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stale").toString
    writeDocs(dir, Seq(
      (1L, "the table scan runs first"),
      (2L, "merge the table later"),
      (3L, "scan and merge the rest")))
    val fn = SparkEntry.queries("bm25_topk_indexed")
    val r1 = fn(spark, dir).collect().map(_.toString).toSet
    // regenerate IN PLACE: different ids, counts, and term statistics
    writeDocs(dir, Seq(
      (10L, "the table"),
      (11L, "scan the table scan twice"),
      (12L, "merge merge the queue"),
      (13L, "table scan merge all")))
    val r2 = fn(spark, dir).collect().map(_.toString).toSet
    assert(r1 != r2, "regenerated documents table served a stale postings index")
  }

  test("ann_ivf_topk_indexed rebuilds when embeddings is regenerated in place") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stale_ivf").toString
    val rnd = new scala.util.Random(7)
    def vecs(n: Int, shift: Float): Seq[(Long, Array[Float])] =
      (0 until n).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() + shift)))
    def write(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(vecs(40, 0f))
    val fn = SparkEntry.queries("ann_ivf_topk_indexed")
    val r1 = fn(spark, dir).collect().map(_.toString).toSet
    write(vecs(50, 1f)) // same dir, different corpus
    val r2 = fn(spark, dir).collect().map(_.toString).toSet
    assert(r1 != r2, "regenerated embeddings table served a stale IVF layout")
  }
}
