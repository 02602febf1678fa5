package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Passage-level dedup + int8 quantization semantics (the oracle checks the
  * cross-engine values; these specs pin the local semantics).
  */
class PassageQuantSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("passages: full non-overlapping chunks only, short docs empty") {
    val df = Seq(
      (1L, "a b c d e f g"), // 7 tokens → one 5-token passage
      (2L, "a b c d"), // 4 tokens → none
      (3L, "A B C D E a b c d e") // case-folds; two passages
    ).toDF("doc_id", "text")
    val got = df
      .select($"doc_id", Dedup.passages($"text", 5).as("p"))
      .as[(Long, Seq[String])]
      .collect()
      .toMap
    assert(got(1L) == Seq("a b c d e"))
    assert(got(2L) == Seq.empty)
    assert(got(3L) == Seq("a b c d e", "a b c d e"))
  }

  test("passageShareStats: shared iff the passage appears in another doc") {
    val df = Seq(
      (1L, "x y z w v a b c d e"), // passages: "x y z w v", "a b c d e"
      (2L, "a b c d e q q q q q"), // shares "a b c d e" with #1
      (3L, "m m m m m") // unique passage
    ).toDF("doc_id", "text")
    val got = Dedup
      .passageShareStats(df)
      .as[(Long, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got(1L) == ((2L, 1L)))
    assert(got(2L) == ((2L, 1L)))
    assert(got(3L) == ((1L, 0L)))
  }

  test("passageShareStats: hash-pair keying matches a string-keyed evaluation") {
    // The benched operator windows on the 128-bit passageHashesFromTokens pair; this
    // pins its output to the same stats computed with the passage STRING as
    // the window key on real corpus text (the equivalence the 2^-128
    // collision bound promises).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"p")
    val viaString = docs
      .select($"doc_id".as("id"), explode(array_distinct(Dedup.passages($"text", 5))).as("p"))
      .withColumn("n_docs", count(lit(1)).over(w))
      .groupBy($"id".as("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when($"n_docs" > 1, 1L).otherwise(0L)).as("n_shared"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val viaHash = Dedup.passageShareStats(docs)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(viaHash.nonEmpty && viaHash.sameElements(viaString))
  }

  test("quantizeInt8Stats: q bounded by ±127, reconstruction error ≤ half step") {
    val rnd = new scala.util.Random(17)
    val df = Seq.tabulate(100)(i => (i.toLong, Array.fill(32)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8Stats(df)
      .as[(Long, Long, Long, Long, Long, Long)]
      .collect()
    assert(got.length == 100)
    got.foreach { case (id, amaxMicro, _, qMin, qMax, errMicro) =>
      assert(qMin >= -127L && qMax <= 127L, s"vec $id out of int8 range")
      // max dequantization error ≤ half a quantization step = amax/254
      // (+1 micro for the two roundings)
      val halfStepMicro = amaxMicro / 254 + 1
      assert(errMicro <= halfStepMicro, s"vec $id err=$errMicro > $halfStepMicro")
    }
  }

  test("md5-anchored fingerprints: simhash32 within 32 bits, minhash sig is elementwise min") {
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val fp = df.select(Dedup.simhash32Md5($"text")).as[Long].head()
    assert(fp >= 0L && fp < (1L << 32))
    val sig = df
      .select(Dedup.md5ShingleHashes($"text", 3).as("h"))
      .select(Dedup.minhashMd5Signature($"h", 16).as("s"))
      .as[Seq[Long]]
      .head()
    assert(sig.length == 16)
    // signature slot 0 is the min over shingles of member 0's affine hash
    val member0 = df.select(Dedup.wordShingles($"text", 3).as("g"))
      .select(array_min(transform($"g", g =>
        (lit(Dedup.md5AffineA(0)) * Dedup.md5Hash32(g) + lit(Dedup.md5AffineB(0))) % lit(Dedup.Md5AffineMod))))
      .as[Long].head()
    assert(sig.head == member0)
  }
}
