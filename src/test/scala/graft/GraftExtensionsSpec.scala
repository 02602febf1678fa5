package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

class GraftExtensionsSpec extends AnyFunSuite {

  // The shared session, built by GraftSession.local: its
  // spark.sql.extensions conf installs GraftExtensions, so these SQL
  // functions resolve through the production wiring.
  lazy val spark = TestSpark.spark

  test("minhash_sig registered as a SQL function via SparkSessionExtensions") {
    try {
      import spark.implicits._
      Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("id", "text")
        .createOrReplaceTempView("ext_docs")
      val viaSql = spark
        .sql("SELECT minhash_sig(text) AS sig FROM ext_docs")
        .as[Seq[Long]]
        .head()
      val viaColumn = Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("id", "text")
        .select(Dedup.minhashSignature($"text").as("sig"))
        .as[Seq[Long]]
        .head()
      assert(viaSql == viaColumn)
      assert(viaSql.length == 64)
      val simViaSql = spark.sql("SELECT simhash64(text) AS fp FROM ext_docs").as[Long].head()
      val simViaColumn = Seq("the quick brown fox jumps over the lazy dog tonight")
        .toDF("text")
        .select(Dedup.simhash64($"text"))
        .as[Long]
        .head()
      assert(simViaSql == simViaColumn)
      // round-2 registrations
      val bandsViaSql = spark
        .sql("SELECT minhash_bands(text) AS b FROM ext_docs")
        .as[Seq[Long]]
        .head()
      assert(bandsViaSql.length == 16)
      Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)))
        .toDF("a", "b")
        .createOrReplaceTempView("ext_vecs")
      val cos = spark.sql("SELECT cosine_sim(a, b) AS c FROM ext_vecs").as[Double].head()
      assert(math.abs(cos - 1.0) < 1e-12)
      val sig = spark.sql("SELECT lsh_sig(a, 8, 3, 7) AS s FROM ext_vecs").as[Long].head()
      assert(sig >= 0L && sig < (1L << 8))
      val bs = spark
        .sql("SELECT bigram_stats(text).n_bigrams AS n FROM ext_docs")
        .as[Long]
        .head()
      assert(bs == 9L)
      // round-3 registrations
      val z = spark.sql("SELECT z_value(5, 3) AS z").as[Long].head()
      // 5 = 101b on even bits → 010001b; 3 = 11b on odd bits → 001010b
      assert(z == 27L)
      val zc = Seq((5L, 3L)).toDF("x", "y")
        .select(graft.ops.Layout.zValue($"x", $"y", 16)).as[Long].head()
      assert(z == zc)
      val red = spark
        .sql("SELECT pii_redact('mail a@b.co ip 10.0.0.1 num 12345678') AS r")
        .as[String]
        .head()
      assert(red == "mail [PII] ip [PII] num [PII]")
      // round-12 registrations: DTW + envelope bound + media/signature kernels
      val dtw = spark.sql(
        "SELECT dtw_band(array(0L,0L,5L), array(0L,5L,0L), 1) AS d").as[Long].head()
      // the warp aligns u's spike with q's, but the END cell (5 vs 0) is
      // on every path: 25 exactly (hand-checked DP)
      assert(dtw == 25L)
      val lb = spark.sql(
        "SELECT lb_keogh(array(7L,0L), array(5L,5L), array(1L,1L)) AS b").as[Long].head()
      assert(lb == 5L) // (7-5)^2 + (1-0)^2
      val ah = spark.sql("SELECT ahash64(CAST('aaab' AS BINARY)) AS h").as[Long].head()
      assert(ah == graft.functions.AHash.ahash64("aaab".getBytes("UTF-8")))
      val mc = spark.sql(
        "SELECT arr_match_count(array(1L,2L,3L), array(1L,9L,3L)) AS m").as[Long].head()
      assert(mc == 2L)
      // null ELEMENTS null the whole result (the zip_with contract these
      // kernels replaced), instead of silently reading the slot as 0
      val mcNull = spark.sql(
        "SELECT arr_match_count(array(1L, CAST(NULL AS BIGINT)), array(1L, 0L)) AS m")
        .head()
      assert(mcNull.isNullAt(0))
    } finally {
      spark.catalog.dropTempView("ext_docs")
      spark.catalog.dropTempView("ext_vecs")
    }
  }
}
