package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16

  /** 3 well-separated cluster centers + jittered members (deterministic). */
  private def clustered(n: Int): Seq[(Long, Array[Float])] = {
    val rnd = new Random(123)
    val centers = Array.fill(3)(Array.fill(dim)(rnd.nextGaussian()))
    (0L until n).map { i =>
      val c = centers((i % 3).toInt)
      val v = c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      i -> v
    }
  }

  private def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
  }

  test("bruteForceTopK matches a local naive top-k") {
    val data = clustered(60)
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity
      .bruteForceTopK(df, df.filter($"vec_id" < 3), k = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)]
      .collect()
      .groupBy(_._1)
      .view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq)
      .toMap
    val lookup = data.toMap
    (0L until 3).foreach { q =>
      val expected = data
        .filter(_._1 != q)
        .map { case (id, v) => (id, math.rint(cosLocal(lookup(q), v) * 1e6) / 1e6) }
        .sortBy { case (id, c) => (-c, id) }
        .take(4)
        .map(_._1)
      assert(got(q) == expected, s"query $q")
    }
  }

  test("filteredBruteTopK: exact same-label top-k matches a local filtered naive rank") {
    val data = clustered(60)
    val df = data.map { case (i, v) => (i, v, (i % 4).toInt) }
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .filteredBruteTopK(df, df.filter($"vec_id" < 3), k = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)]
      .collect()
      .groupBy(_._1)
      .view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq)
      .toMap
    val lookup = data.toMap
    (0L until 3).foreach { q =>
      val expected = data
        .filter { case (id, _) => id != q && id % 4 == q % 4 }
        .map { case (id, v) => (id, math.rint(cosLocal(lookup(q), v) * 1e6) / 1e6) }
        .sortBy { case (id, c) => (-c, id) }
        .take(4)
        .map(_._1)
      assert(got(q) == expected, s"query $q")
    }
  }

  test("postFilterRecall: recall is monotone in over-fetch and hits 100% once the filtered gold fits") {
    // labels follow the clusters, so the unfiltered IVF leg's candidates
    // are mostly same-label: deep over-fetch recovers the full gold
    val data = clustered(60)
    val df = data.map { case (i, v) => (i, v, (i % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity
      .postFilterRecall(df, df.filter($"vec_id" < 3), k = 4, overfetch = Seq(1, 2, 4), dim = dim)
      .select("overfetch", "n_gold", "recall_micro")
      .as[(Int, Long, Long)]
      .collect()
      .sortBy(_._1)
    assert(rows.map(_._2).distinct.sameElements(Array(12L)), "3 queries x k=4 gold rows")
    assert(rows.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      s"recall must be monotone in over-fetch: ${rows.mkString(",")}")
    assert(rows.last._3 == 1000000L,
      s"cluster-aligned labels: deep over-fetch must recover the gold, got ${rows.last}")
  }

  test("filteredCrossover: full sweep grid, per-stratum gold sizes, recall monotone in over-fetch") {
    val data = clustered(60)
    val df = data.toDF("vec_id", "embedding")
    val rows = Similarity
      .filteredCrossover(df, df.filter($"vec_id" < 3), k = 4,
        overfetch = Seq(1, 2, 4), selPcts = Seq(10, 50), dim = dim)
      .select("selectivity_pct", "overfetch", "n_gold", "n_hit", "recall_micro")
      .as[(Int, Int, Long, Long, Long)]
      .collect()
    assert(rows.length == 6, "2 strata x 3 over-fetch factors")
    rows.groupBy(_._1).foreach { case (pct, legs) =>
      // ids are 0..59, so the % 100 stratum holds exactly pct·60/100
      // vectors; queries 0..2 are all inside both strata (self-excluded)
      val stratum = (0L until 60L).count(_ % 100 < pct)
      assert(legs.map(_._3).distinct.sameElements(Array(3L * math.min(4, stratum - 1))),
        s"pct=$pct gold must be 3 queries x min(k, stratum-1): ${legs.mkString(",")}")
      val byM = legs.sortBy(_._2)
      assert(byM.map(_._5).sliding(2).forall(p => p(0) <= p(1)),
        s"pct=$pct: recall must be monotone in over-fetch: ${byM.mkString(",")}")
      byM.foreach { l => assert(l._4 <= l._3, s"hits cannot exceed gold: $l") }
    }
  }

  test("filteredAutoTopK: measures selectivity, picks the crossover side, bit-identical to the chosen leg") {
    val data = clustered(200)
    val df = data.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
    val auto = Similarity
      .filteredAutoTopK(df, q, k = 4, selPcts = Seq(1, 50), overfetch = 4, dim = dim)
      .select("selectivity_pct", "selectivity_bps", "strategy",
        "query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Int, Long, String, Long, Long, Double, Int)]
      .collect()
    val byPct = auto.groupBy(_._1)
    // ids 0..199: the 1% stratum holds exactly {0, 100} -> 100 bps -> prefilter
    assert(byPct(1).forall(r => r._2 == 100L && r._3 == "prefilter"), byPct(1).mkString(","))
    // the 50% stratum holds 100/200 -> 5000 bps -> postfilter
    assert(byPct(50).forall(r => r._2 == 5000L && r._3 == "postfilter"), byPct(50).mkString(","))
    val lookup = data.toMap
    def rank(cands: Seq[(Long, Double)], k: Int): Seq[(Long, Double, Int)] =
      cands.sortBy { case (id, c) => (-c, id) }.take(k).zipWithIndex
        .map { case ((id, c), i) => (id, c, i + 1) }
    // prefilter leg == the exact stratum gold, independently ranked
    for (qid <- 0L until 3L) {
      val expected = rank(
        data.filter { case (id, _) => id != qid && id % 100 < 1 }
          .map { case (id, v) => (id, math.rint(cosLocal(lookup(qid), v) * 1e6) / 1e6) },
        4)
      val got = byPct(1).filter(_._4 == qid).sortBy(_._7).map(r => (r._5, r._6, r._7)).toSeq
      assert(got == expected, s"prefilter leg, query $qid")
    }
    // postfilter leg == the standalone IVF probe, filtered + re-ranked
    val wide = Similarity.ivfAnchorTopK(df, q, k = 16, dim = dim)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    for (qid <- 0L until 3L) {
      val expected = rank(
        wide.filter(r => r._1 == qid && r._2 % 100 < 50).map(r => (r._2, r._3)).toSeq, 4)
      val got = byPct(50).filter(_._4 == qid).sortBy(_._7).map(r => (r._5, r._6, r._7)).toSeq
      assert(got == expected, s"postfilter leg, query $qid")
    }
  }

  private def microLocal(v: Array[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)

  private def d2Local(a: Array[Float], b: Array[Float]): Long =
    microLocal(a).zip(microLocal(b)).map { case (x, y) => (x - y) * (x - y) }.sum

  test("triLowerBounds: the triangle bound never exceeds the exact micro-squared L2 for ANY pair") {
    val data = clustered(60)
    val df = data.toDF("vec_id", "embedding")
    val lookup = data.toMap
    val lb = Similarity
      .triLowerBounds(df, df.filter($"vec_id" < 3), k = 4, nAnchors = 8, dim = dim)
      .as[(Long, Long, Long)]
      .collect()
    assert(lb.length == 3 * 59, "every non-self pair gets a bound")
    lb.foreach { case (q, u, bound) =>
      val exact = d2Local(lookup(q), lookup(u))
      assert(bound <= exact, s"bound $bound above exact $exact for ($q, $u)")
      assert(bound >= 0L)
    }
  }

  test("triPrunedTopKL2: bit-identical to brute exact L2; clustered data actually prunes") {
    val data = clustered(60)
    val df = data.toDF("vec_id", "embedding")
    val lookup = data.toMap
    val got = Similarity
      .triPrunedTopKL2(df, df.filter($"vec_id" < 3), k = 4, nAnchors = 8, dim = dim)
      .select("query_id", "neighbor_id", "d2", "rank")
      .as[(Long, Long, Long, Int)]
      .collect()
      .groupBy(_._1)
      .view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq)
      .toMap
    (0L until 3).foreach { q =>
      val expected = data
        .filter(_._1 != q)
        .map { case (id, v) => (id, d2Local(lookup(q), v)) }
        .sortBy { case (id, d2) => (d2, id) }
        .take(4)
      assert(got(q) == expected, s"query $q: ${got(q)} vs $expected")
    }
    val stats = Similarity
      .triPruneStats(df, df.filter($"vec_id" < 3), k = 4, nAnchors = 8, dim = dim)
      .collect()
    stats.foreach { r =>
      def g(n: String) = r.getLong(r.fieldIndex(n))
      assert(g("n_candidates") == 59L)
      assert(g("n_survivors") < 59L,
        s"well-separated clusters must prune: ${r.mkString(",")}")
      assert(g("n_survivors") >= 4L, "the true top-k must survive")
    }
  }

  test("signWords packs the sign bit per dimension into 32-bit bigint words") {
    val df = Seq(
      (0L, Array(1.0f, -2.0f, 0.0f, 3.5f)),
      (1L, Array(-1.0f, -1.0f, -1.0f, -1.0f)),
      (2L, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val got = df
      .select($"vec_id", Similarity.signWords("embedding", 4).as("sig"))
      .as[(Long, Seq[Long])]
      .collect()
      .toMap
    // bit j set iff v(j) > 0; 0.0 does not count as positive
    assert(got(0L) == Seq(1L + 8L))
    assert(got(1L) == Seq(0L))
    assert(got(2L) == Seq(15L))
    // >32 dims spill into a second word
    val wide = Seq((0L, Array.fill(40)(1.0f))).toDF("vec_id", "embedding")
    val sig = wide
      .select(Similarity.signWords("embedding", 40))
      .as[Seq[Long]]
      .head()
    assert(sig == Seq((1L << 32) - 1, (1L << 8) - 1))
  }

  test("signHammingTopK with a corpus-wide shortlist equals brute force exactly") {
    val data = clustered(80)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 4)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = rows(Similarity.bruteForceTopK(df, queries, k = 4))
    val viaSign =
      rows(Similarity.signHammingTopK(df, queries, k = 4, shortlist = 80, dim = dim))
    assert(viaSign == exact) // rerank over everything ≡ brute force
  }

  test("signHammingTopK achieves high recall with a tight shortlist on clustered data") {
    val data = clustered(120)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val exact = Similarity
      .bruteForceTopK(df, queries, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val approx = Similarity
      .signHammingTopK(df, queries, k = 5, shortlist = 48, dim = dim)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // At 16 sign bits an entire cluster (~40 members) ties at Hamming 0, so
    // the shortlist must cover the tie mass to guarantee the 5-NN survive
    // the id tie-break (a 16-deep shortlist measures ~0.53 recall here).
    // Sizing rule: shortlist ≳ expected same-signature neighborhood.
    assert(recall >= 0.9, s"recall $recall")
  }

  test("lshTopK achieves high recall on clustered data") {
    val data = clustered(120)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val exact = Similarity
      .bruteForceTopK(df, queries, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val approx = Similarity
      .lshTopK(df, queries, k = 5, nbits = 6, dim = dim)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // clustered members share hyperplane sides; multiprobe covers the rest
    assert(recall >= 0.6, s"recall $recall")
  }

  test("cosineNearDupLsh finds clustered near-dup pairs with high recall, no false positives") {
    val data = clustered(90)
    val df = data.toDF("vec_id", "embedding")
    val exact = Similarity
      .cosineNearDupPairs(df, threshold = 0.9)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(exact.nonEmpty) // clusters guarantee high-cosine pairs
    val lsh = Similarity
      .cosineNearDupLsh(df, threshold = 0.9, nbits = 6, dim = dim)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    // every LSH pair is exact-verified (no false positives by construction)
    assert(lsh.subsetOf(exact))
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("ivfTopK: high recall on clustered data, deterministic across runs") {
    val data = clustered(120)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val exact = Similarity
      .bruteForceTopK(df, queries, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    def run() = Similarity
      .ivfTopK(df, queries, k = 5, nCentroids = 6, nprobe = 2)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val approx = run()
    val recall = (exact & approx).size.toDouble / exact.size
    // 3 true clusters, 6 centroids, 2 probes: same-cluster neighbors land in
    // probed buckets
    assert(recall >= 0.8, s"recall $recall")
    assert(run() == approx) // seeded training → deterministic
  }

  test("ivfTopKIndexed: same results as ivfTopK, scan pruned to probed partitions") {
    val data = clustered(120)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_index").toString
    val centroids = Similarity.buildIvfIndex(df, dir, nCentroids = 6)
    val indexed = Similarity.ivfTopKIndexed(spark, dir, centroids, queries, k = 5, nprobe = 2)
    val direct = Similarity.ivfTopK(df, queries, k = 5, nCentroids = 6, nprobe = 2)
    assert(
      indexed.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet ==
        direct.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    )
    // partition pruning: the scan must carry PartitionFilters on bucket and
    // read fewer partitions than exist in the index
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"), s"no partition pruning:\n$plan")
    val allBuckets = spark.read.parquet(dir).select("bucket").distinct().count()
    val probedBuckets = queries
      .select(Similarity.nearestCentroidsUdf(centroids, 2)($"embedding".cast("array<double>")).as("bs"))
      .select(org.apache.spark.sql.functions.explode($"bs")).distinct().count()
    assert(probedBuckets < allBuckets, "test would not demonstrate pruning")
  }

  test("cosine expression equals local computation") {
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(-1.0f, 0.5f, 2.0f)
    val got = Seq((a, b))
      .toDF("a", "b")
      .select(Similarity.cosine($"a".cast("array<double>"), $"b".cast("array<double>")))
      .as[Double]
      .head()
    assert(math.abs(got - cosLocal(a, b)) < 1e-12)
  }

  test("native cosine is bit-identical to the compositional form, float and double inputs") {
    val df = clustered(200).toDF("vec_id", "embedding")
    val pairs = df.select($"vec_id".as("id_a"), $"embedding".as("v_a"))
      .crossJoin(df.select($"vec_id".as("id_b"), $"embedding".as("v_b")))
      .filter($"id_a" < $"id_b" && $"id_b" < 40)
    val mismFloat = pairs
      .select(
        Similarity.cosine($"v_a", $"v_b").as("native"),
        Similarity.cosineComposed($"v_a".cast("array<double>"), $"v_b".cast("array<double>")).as("composed")
      )
      .filter($"native" =!= $"composed")
      .count()
    assert(mismFloat == 0)
    val mismDouble = pairs
      .select(
        Similarity.cosine($"v_a".cast("array<double>"), $"v_b".cast("array<double>")).as("native"),
        Similarity.cosineComposed($"v_a".cast("array<double>"), $"v_b".cast("array<double>")).as("composed")
      )
      .filter($"native" =!= $"composed")
      .count()
    assert(mismDouble == 0)
  }

  test("labelCentroids: per-label mean matches local computation, counts right") {
    val data = (0L until 90L).map { i =>
      val label = (i % 3).toInt
      (i, Array.tabulate(dim)(d => (label * 10 + d * 0.5 + (i % 7) * 0.01).toFloat), label)
    }
    val df = data.toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(df)
      .as[(Int, Long, Double, Long)]
      .collect()
      .map(r => (r._1, r._2) -> (r._3, r._4))
      .toMap
    assert(got.size == 3 * dim)
    for (label <- 0 until 3; d <- 1 to dim) {
      val members = data.filter(_._3 == label)
      val mean = members.map(_._2(d - 1).toDouble).sum / members.size
      val (c, n) = got((label, d.toLong))
      assert(n == members.size)
      assert(math.abs(c - mean) < 1e-3, s"label=$label dim=$d")
    }
  }

  test("native lshSignature is bit-identical to the compositional form") {
    val df = clustered(200).toDF("vec_id", "embedding")
    val mism = df
      .select(
        Similarity.lshSignature($"embedding", 16, dim).as("native"),
        Similarity.lshSignatureComposed($"embedding", 16, dim).as("composed")
      )
      .filter($"native" =!= $"composed")
      .count()
    assert(mism == 0)
  }

  test("lshSignature yields null for length-mismatched vectors, both forms") {
    // A malformed (wrong-dim) vector must not silently bucket on a
    // truncated projection — both forms null it out identically.
    val df = Seq(
      (1, Array.tabulate(dim)(_.toFloat)), // well-formed
      (2, Array.tabulate(dim - 3)(_.toFloat)), // short
      (3, Array.tabulate(dim + 5)(_.toFloat)) // long
    ).toDF("vec_id", "embedding")
    val rows = df
      .select(
        $"vec_id",
        Similarity.lshSignature($"embedding", 16, dim).as("native"),
        Similarity.lshSignatureComposed($"embedding", 16, dim).as("composed")
      )
      .collect()
      .map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2))))
      .toSeq
      .sortBy(_._1)
    assert(rows(0)._2.isDefined && rows(0)._2 == rows(0)._3)
    assert(rows(1)._2.isEmpty && rows(1)._3.isEmpty)
    assert(rows(2)._2.isEmpty && rows(2)._3.isEmpty)
  }

  test("native lshSigMd5 kernel is bit-identical to the compositional form, float and double, null on bad length") {
    // the r16 codegen port: LshMd5SigExpr vs the aggregate(zip_with(...))
    // spec twin, across bit widths and both element types
    val data = clustered(50) ++ Seq((999L, Array.fill(dim + 3)(0.25f))) // one bad-length row
    val f = data.toDF("vec_id", "embedding")
    val d = f.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    for (df <- Seq(f, d); nbits <- Seq(8, 16)) {
      val rows = df
        .select(
          $"vec_id",
          Similarity.lshSigMd5($"embedding", nbits, dim).as("native"),
          Similarity.lshSigMd5Composed($"embedding", nbits, dim).as("composed"))
        .collect()
      rows.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch at ${r.getLong(0)}")
        if (!r.isNullAt(1)) assert(r.getLong(1) == r.getLong(2), s"sig mismatch at ${r.getLong(0)}")
      }
      assert(rows.count(_.isNullAt(1)) == 1) // exactly the bad-length row
    }
  }

  test("lshSigMd5 matches a local reference (md5 sign planes, micro-quantized dot), null on bad length") {
    val dim = 8
    val vecs = Seq(
      (1, Array(0.5f, -1.25f, 3.0f, 0.001f, -0.002f, 7.5f, -0.75f, 0.25f)),
      (2, Array.tabulate(dim)(d => (d - 3.5).toFloat)),
      (3, Array.fill(dim)(0.0f)),
      (4, Array.fill(dim - 2)(1.0f)) // malformed
    )
    val df = vecs.toDF("vec_id", "embedding")
    val got = df
      .select($"vec_id", Similarity.lshSigMd5($"embedding", nbits = 6, dim = dim).as("sig"))
      .collect()
      .map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    // independent reference: same md5 contract ("j-d" -> first 4 bytes low bit)
    val mdi = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, d: Int): Long = {
      val dig = mdi.digest(s"$j-$d".getBytes("UTF-8"))
      if ((dig(3) & 1) == 1) 1L else -1L
    }
    vecs.filter(_._2.length == dim).foreach { case (id, v) =>
      var expected = 0L
      for (j <- 0 until 6) {
        val proj = (0 until dim).map(d => math.floor(v(d).toDouble * 1e6 + 0.5).toLong * sign(j, d)).sum
        if (proj > 0) expected |= (1L << j)
      }
      assert(got(id).contains(expected), s"vec $id")
    }
    assert(got(4).isEmpty)
  }

  test("lshMd5TopK: candidates verified against brute force, high recall on clustered data") {
    val data = clustered(120)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val exact = Similarity
      .bruteForceTopK(df, queries, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val approx = Similarity
      .lshMd5TopK(df, queries, k = 5, nbits = 6, dim = dim)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("lshMd5MultiprobeTopK at full probe budget is exactly lshMd5TopK") {
    // Probing every single-bit flip makes margin order irrelevant — the
    // candidate sets coincide, so the deterministic rerank must produce
    // identical rows.
    val df = clustered(120).toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val all = Similarity.lshMd5TopK(df, queries, k = 5, nbits = 6, dim = dim)
      .as[(Long, Long, Double, Int)].collect().toSet
    val mp = Similarity
      .lshMd5MultiprobeTopK(df, queries, k = 5, nProbes = 6, nbits = 6, dim = dim)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(mp == all && all.nonEmpty)
  }

  test("lshMd5MultiprobeTopK: a null element probes bucket 0 and the first nProbes bits") {
    // A right-length query with a null element signs to 0 (the null leaves
    // every lshSigMd5 bit unset) and has null margins. Every margin ties, so the
    // flips fall back to bit order: the query probes its own bucket 0 and
    // the buckets of bits 0 .. nProbes-1, nothing else.
    val rnd = new Random(7)
    val pool = (0L until 2000L).map(i => i -> Seq.fill(dim)(Option(rnd.nextGaussian().toFloat)))
    val sigs = pool.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.lshSigMd5(col("embedding"), 6, dim))
      .as[(Long, Long)].collect().toMap
    // one corpus vector in each single-bit bucket, and the zero vector in bucket 0
    val perBit = (0 until 6).map(j => pool.find(p => sigs(p._1) == (1L << j)).get)
    val zero = 5000L -> Seq.fill(dim)(Option(0f))
    val corpus = (perBit :+ zero).toDF("vec_id", "embedding")
    val q = Seq((1000L, pool.head._2.updated(3, None))).toDF("vec_id", "embedding")
    assert(q.select(Similarity.lshSigMd5(col("embedding"), 6, dim)).as[Long].head() == 0L)
    for (nProbes <- Seq(1, 4)) {
      val got = Similarity
        .lshMd5MultiprobeTopK(corpus, q, k = 10, nProbes = nProbes, nbits = 6, dim = dim)
        .select("neighbor_id").as[Long].collect().toSet
      assert(got == (perBit.take(nProbes).map(_._1) :+ zero._1).toSet, s"nProbes=$nProbes")
    }
  }

  test("lshMultiprobeSweep: nested budgets, monotone recall and candidates, full-budget floor") {
    val df = clustered(120).toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val rows = Similarity
      .lshMultiprobeSweep(df, queries, k = 5, probeCounts = Seq(1, 3, 6), nbits = 6, dim = dim)
      .orderBy("n_probes")
      .as[(Int, Long, Long, Long, Int)].collect()
    assert(rows.map(_._1).toSeq == Seq(1, 3, 6))
    assert(rows.forall(_._4 == 30L)) // 6 queries × k=5 brute rows
    // probe sets nest by construction → both curves are non-decreasing
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 <= b._2 && a._5 <= b._5 })
    // full budget ≡ lshMd5TopK, whose recall on this corpus is ≥ 0.6
    assert(rows.last._5 >= 6000)
  }

  test("cosineNearDupLshMd5: subset of exact pairs, high recall") {
    val data = clustered(90)
    val df = data.toDF("vec_id", "embedding")
    val exact = Similarity
      .cosineNearDupPairs(df, threshold = 0.9)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(exact.nonEmpty)
    val lsh = Similarity
      .cosineNearDupLshMd5(df, threshold = 0.9, nbits = 6, dim = dim)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(lsh.subsetOf(exact))
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("ivfAnchorTopK: high recall on clustered data, deterministic, anchors are lowest ids") {
    val data = clustered(120)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val exact = Similarity
      .bruteForceTopK(df, queries, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    def run() = Similarity
      .ivfAnchorTopK(df, queries, k = 5, nAnchors = 6, nprobe = 3, dim = dim)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val approx = run()
    val recall = (exact & approx).size.toDouble / exact.size
    // anchors 0..5 cover each of the 3 true clusters twice (round-robin
    // cluster assignment), so nprobe=3 reaches every same-cluster bucket
    assert(recall >= 0.8, s"recall $recall")
    assert(run() == approx) // anchors are a pure function of the corpus
  }

  test("ivfAnchorScored slices: every nprobe's top-k off the shared frame equals the standalone run") {
    // the r16 shared-leg contract: one probe-rank frame at maxNprobe,
    // nprobe-N = the rk <= N slice — including ranks, including deep
    // over-fetch cuts (the wide-40 discipline of the filtered faces)
    val data = clustered(120)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val scored = Similarity
      .ivfAnchorScored(df, queries, maxNprobe = 6, nAnchors = 6, dim = dim)
      .localCheckpoint(true)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id", "cos_sim", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    for (np <- 1 to 6; k <- Seq(3, 12)) {
      val direct = rows(
        Similarity.ivfAnchorTopK(df, queries, k = k, nAnchors = 6, nprobe = np, dim = dim))
      val sliced = rows(Similarity.ivfAnchorTopKFromScored(scored, k = k, nprobe = np))
      assert(sliced == direct, s"nprobe=$np k=$k")
    }
    // deep frame sliced shallow == shallow frame: the consumers that
    // filter ivf_rank <= m*k off a deeper shared build lose nothing
    val deep = rows(Similarity.ivfAnchorTopKFromScored(scored, k = 12, nprobe = 3))
    val shallowTop = deep.filter(_._4 <= 4)
    val direct4 = rows(
      Similarity.ivfAnchorTopK(df, queries, k = 4, nAnchors = 6, nprobe = 3, dim = dim))
    assert(shallowTop == direct4)
  }

  test("ivfAnchorTopK: the shuffle-join leg (broadcastQueries=false) is result-identical") {
    // the corpus-as-queries scale path drops the broadcast hint and rides
    // the bucket equi-join — same rows, different physical plan
    val df = clustered(120).toDF("vec_id", "embedding")
    def pairs(hint: Boolean) = Similarity
      .ivfAnchorTopK(df, df, k = 5, nAnchors = 6, nprobe = 3, dim = dim,
        broadcastQueries = hint)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)]
      .collect()
      .toSet
    assert(pairs(hint = true) == pairs(hint = false))
  }

  test("pqAdcTopK: exact duplicates rank first with zero ADC, deterministic") {
    val data = clustered(60)
    // plant an exact duplicate of vector 7 at id 59: its code words are
    // identical, so ADC(query 7 → 59) must be the subspace-quantization
    // floor — the minimum possible — and rank 1.
    val planted = data.map { case (id, v) => if (id == 59L) (id, data(7)._2) else (id, v) }
    val df = planted.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" === 7)
    def run() = Similarity
      .pqAdcTopK(df, queries, k = 5, nSub = 4, ksub = 8, dim = dim)
      .select($"query_id", $"neighbor_id", $"adc_dist", $"rank")
      .as[(Long, Long, Long, Int)]
      .collect()
    val got = run()
    assert(got.length == 5)
    val first = got.minBy(_._4)
    assert(first._2 == 59L, s"dup not ranked first: $got")
    // every other neighbor's ADC is ≥ the duplicate's
    assert(got.forall(_._3 >= first._3))
    assert(run().toSeq == got.toSeq) // codebooks are a pure corpus function
  }

  test("ivfPqTopK: shortlist+rerank recovers brute-force neighbors on clustered data") {
    val data = clustered(120)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val exact = Similarity
      .bruteForceTopK(df, queries, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val approx = Similarity
      .ivfPqTopK(df, queries, k = 5, nAnchors = 6, nprobe = 3,
        nSub = 4, ksub = 8, shortlist = 24, dim = dim)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // same bucket coverage argument as ivfAnchorTopK; the PQ shortlist of
    // 24 from ~40-vector probed buckets keeps the true top-5 with margin
    assert(recall >= 0.8, s"recall $recall")
    // rerank scores are exact cosine: every returned pair's cos_sim matches
    // the local computation
    val byId = data.map { case (id, v) => id -> v }.toMap
    val scored = Similarity
      .ivfPqTopK(df, queries, k = 5, nAnchors = 6, nprobe = 3,
        nSub = 4, ksub = 8, shortlist = 24, dim = dim)
      .select($"query_id", $"neighbor_id", $"cos_sim")
      .as[(Long, Long, Double)]
      .collect()
    scored.foreach { case (q, nb, s) =>
      val want = math.rint(cosLocal(byId(q), byId(nb)) * 1e6) / 1e6
      assert(math.abs(s - want) <= 1e-6, s"($q,$nb): $s vs $want")
    }
  }

  test("mmrSelect diversifies: plain top-k picks the clone cluster, MMR breaks it up") {
    // query points at cluster A; ids 10-13 are near-clones of A (pairwise
    // cosine ≈ 1), id 20 is a distinct but still-relevant direction. Plain
    // top-3 = three A-clones; MMR at λ=0.3 picks the most relevant clone,
    // then the diverse vector (clone penalty ≈ 0.7·1.0 dwarfs its relevance
    // edge), then falls back to the lowest-id clone.
    val data = Seq(
      (3L, Array(1.0f, 0.0f, 0.0f)), // query
      (10L, Array(0.99f, 0.10f, 0.00f)),
      (11L, Array(0.99f, 0.11f, 0.00f)),
      (12L, Array(0.99f, 0.12f, 0.00f)),
      (13L, Array(0.99f, 0.13f, 0.00f)),
      (20L, Array(0.70f, 0.00f, 0.71f))
    )
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity
      .mmrSelect(df, df.filter($"vec_id" === 3), k = 3, nCandidates = 5, lambda10 = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
    assert(got.map(_._2).toSeq == Seq(10L, 20L, 11L), s"got ${got.toSeq}")
    // first-pick score carries no penalty term: 3·rel_micro exactly
    assert(got(0)._3 % 3 == 0 && got(0)._3 > 0)
  }

  test("dimStatsMicro: exact micro moments per dimension, wrong-length vectors excluded") {
    val data = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f)),
      (2L, Array(0.1f, 0.2f, -0.3f)),
      (3L, Array(1.0f, 0.0f, 0.5f)),
      (4L, Array(1.0f, 2.0f)) // wrong length — must be dropped
    )
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity.dimStatsMicro(df, dim = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def micro(x: Float): Long = math.floor(x.toDouble * 1000000 + 0.5).toLong
    val byDim = (0 until 3).map { d =>
      val ms = data.take(3).map(t => micro(t._2(d)))
      (d + 1).toLong -> ((3L, ms.sum, ms.map(m => m * m).sum))
    }.toMap
    assert(got == byDim, s"got $got want $byDim")
  }

  test("semDedup: flags exactly the non-minimal members of each similar bucket group") {
    val data = clustered(30)
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity
      .semDedup(df, threshold = 0.8, nAnchors = 6, dim = dim)
      .select("vec_id", "bucket", "is_dup")
      .as[(Long, Int, Int)]
      .collect()
    assert(got.length == 30)
    val vecs = data.toMap
    // Per bucket: a member is a dup iff some lower-id bucket-mate clears
    // the (6dp-rounded) cosine threshold — recompute locally and compare.
    got.groupBy(_._2).foreach { case (_, members) =>
      val ids = members.map(_._1).sorted
      members.foreach { case (id, _, flag) =>
        val want = ids.exists(o =>
          o < id &&
            BigDecimal(cosLocal(vecs(o), vecs(id))).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.8)
        assert(flag == (if (want) 1 else 0), s"id=$id")
      }
    }
    // tight clusters: at least one dup flagged, never all flagged
    assert(got.count(_._3 == 1) > 0 && got.count(_._3 == 0) >= got.map(_._2).distinct.length)
  }

  test("ivfAnchorSweep: legs agree with direct runs; more anchors never worsen balance here") {
    val df = clustered(30).toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 4)
    val gold = Similarity.bruteForceTopK(df, queries, k = 3, vecCol = "embedding")
      .select($"query_id", $"neighbor_id").localCheckpoint(eager = true)
    val got = Similarity.ivfAnchorSweep(
      df, queries, gold, k = 3, anchorCounts = Seq(2, 6), nprobe = 2, dim = dim)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(got.keySet == Set(2, 6))
    val nGold = gold.count()
    for ((a, (g, h, rec, bal)) <- got) {
      assert(g == nGold && h <= g, s"anchors $a")
      assert(rec == math.round(1e6 * h / g) && bal > 0 && bal <= 10000)
      // cross-check the leg against a direct run at the same geometry
      val direct = Similarity.ivfAnchorTopK(df, queries, k = 3, nAnchors = a, nprobe = 2, dim = dim)
        .join(gold, Seq("query_id", "neighbor_id")).count()
      assert(h == direct, s"anchors $a leg disagrees with the direct run")
    }
    // 6 well-separated clusters: 6 anchors partition them; 2 anchors funnel
    assert(got(6)._4 < got(2)._4, "more anchors must improve balance on this fixture")
  }

  test("semDedupFromCore: bit-identical to standalone semDedup at every threshold (the r16 shared core)") {
    val df = clustered(90).toDF("vec_id", "embedding")
    val (buckets, best) = Similarity.semDedupCore(df, nAnchors = 6, dim = dim)
    for (t <- Seq(0.25, 0.5, 0.9)) {
      val direct = Similarity.semDedup(df, t, nAnchors = 6, dim = dim)
        .as[(Long, Int, Int)].collect().toSet
      val fromCore = Similarity.semDedupFromCore(buckets, best, t)
        .as[(Long, Int, Int)].collect().toSet
      assert(fromCore == direct, s"threshold $t")
    }
  }

  test("semDedupThresholdSweep: each leg's dup count equals semDedup's flags at that threshold") {
    val df = clustered(30).toDF("vec_id", "embedding")
    val sweep = Similarity
      .semDedupThresholdSweep(df, thresholds = Seq(0.5, 0.8, 0.95), nAnchors = 6, dim = dim)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(sweep.keySet == Set(5000, 8000, 9500))
    for ((bps, (nDocs, nDup, keptBps)) <- sweep) {
      val flags = Similarity.semDedup(df, threshold = bps / 10000.0, nAnchors = 6, dim = dim)
        .filter($"is_dup" === 1).count()
      assert(nDocs == 30L && nDup == flags, s"threshold $bps")
      assert(keptBps == math.round(10000.0 * (30 - flags) / 30).toInt)
    }
    // kept share must be monotone in the threshold
    assert(sweep(5000)._3 <= sweep(8000)._3 && sweep(8000)._3 <= sweep(9500)._3)
  }

  test("mmrSelect: λ=1 reduces to plain relevance top-k order") {
    val data = clustered(40)
    val df = data.toDF("vec_id", "embedding")
    val plain = Similarity
      .bruteForceTopK(df, df.filter($"vec_id" === 0), k = 4)
      .select("neighbor_id").as[Long].collect().toSeq
    val mmr = Similarity
      .mmrSelect(df, df.filter($"vec_id" === 0), k = 4, nCandidates = 10, lambda10 = 10)
      .orderBy("sel_rank").select("vec_id").as[Long].collect().toSeq
    assert(mmr == plain)
  }

  test("topPrincipalComponent recovers a planted axis exactly") {
    // symmetric cloud along (1, 2, 0, 0): the scatter numerator is a
    // rank-1 multiple of [1 2; 2 4], so every power step maps the
    // all-ones start onto exactly (500000, 1000000, 0, 0)
    val vecs = Seq(-0.5f, -0.25f, 0.25f, 0.5f)
      .map(t => Tuple1(Seq(t, 2 * t, 0.0f, 0.0f)))
      .toDF("embedding")
    val got = Similarity.topPrincipalComponent(vecs)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(got == Seq(500000L, 1000000L, 0L, 0L))
  }

  test("topTwoPrincipalComponents recovers two planted orthogonal axes in variance order") {
    // axis (1, 2, 0, 0) carries 4x the variance of axis (0, 0, 1, 0):
    // PC1 must be the first (exactly, like the single-component test),
    // PC2 the second after deflation — and exactly orthogonal to PC1
    val vecs = (Seq(-0.5f, -0.25f, 0.25f, 0.5f).map(t => Seq(t, 2 * t, 0.0f, 0.0f)) ++
      Seq(-0.25f, -0.125f, 0.125f, 0.25f).map(t => Seq(0.0f, 0.0f, t, 0.0f)))
      .map(Tuple1(_)).toDF("embedding")
    val got = Similarity.topTwoPrincipalComponents(vecs)
      .as[(Int, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val pc1 = got(1)
    val pc2 = got(2)
    assert(pc1(1) == 1000000L && math.abs(pc1(0) - 500000L) < 5L &&
      pc1(2).abs < 5L && pc1(3).abs < 5L, pc1.toString)
    assert(pc2(2).abs == 1000000L && pc2(0).abs < 5000L &&
      pc2(1).abs < 5000L && pc2(3).abs < 5000L, pc2.toString)
    // orthogonality in micro units: |<pc1, pc2>| tiny relative to norms
    val dot = pc1.zip(pc2).map { case (a, b) => BigInt(a) * b }.sum.abs
    assert(dot < BigInt(1000000L) * 10000L, dot.toString)
  }

  test("embeddingAnisotropy: planted rank-2 cloud splits variance between the two PCs") {
    // all variance lives on two orthogonal axes (4:1 ratio): PC1 share ≈
    // 8000 bps, PC2 ≈ 2000 bps, and together they must cover everything
    val vecs = (Seq(-0.5f, -0.25f, 0.25f, 0.5f).map(t => Seq(t, 0.0f, 0.0f, 0.0f)) ++
      Seq(-0.25f, -0.125f, 0.125f, 0.25f).map(t => Seq(0.0f, 0.0f, t, 0.0f)))
      .map(Tuple1(_)).toDF("embedding")
    val r = Similarity.embeddingAnisotropy(vecs).head()
    val (n, s1, s2) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n == 8)
    assert(math.abs(s1 - 8000L) < 50, s"pc1 share $s1")
    assert(math.abs(s2 - 2000L) < 50, s"pc2 share $s2")
    assert(s1 + s2 > 9900 && s1 + s2 <= 10050)
    // isotropic-ish control: shuffling the same mass across 4 axes drops PC1's share
    val iso = (0 until 4).flatMap(ax =>
      Seq(-0.5f, 0.5f).map(t => Tuple1(Seq.tabulate(4)(j => if (j == ax) t else 0.0f))))
      .toDF("embedding")
    val ri = Similarity.embeddingAnisotropy(iso).head()
    assert(ri.getLong(1) < 4000L, s"isotropic pc1 share ${ri.getLong(1)}")
  }

  test("hardNegativesTopK excludes same-label neighbors and matches the filtered local top-k") {
    val data = clustered(40).map { case (id, v) => (id, (id % 3).toInt, v) }
    val df = data.toDF("vec_id", "label", "embedding")
    val lookup = data.map { case (id, _, v) => id -> v }.toMap
    val labels = data.map { case (id, l, _) => id -> l }.toMap
    val k = 4
    val got = Similarity.hardNegativesTopK(df, df.filter($"vec_id" < 3), k)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    (0L until 3L).foreach { q =>
      val expected = data
        .collect { case (id, l, v) if id != q && l != labels(q) =>
          (id, math.rint(cosLocal(lookup(q), v) * 1e6) / 1e6) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).map(_._1)
      assert(got(q) == expected, s"query $q")
      got(q).foreach(n => assert(labels(n) != labels(q)))
    }
  }

  test("ivfUpsertReport: exact per-bucket radius, outside counts, growth") {
    // base: unit axes e0..e3 (the 4 anchors) + 0.9-scaled copies, so each
    // bucket has n_base=2 and radius (1e6-9e5)^2 = 1e10. Delta: one
    // inside arrival (e0*0.95, d2=2.5e9), two outside (e1*0.5 d2=2.5e11;
    // e2*0.88 d2=1.44e10), nothing for e3.
    def axis(i: Int, m: Float) = Array.tabulate(4)(j => if (j == i) m else 0.0f)
    val base = (Seq.tabulate(4)(i => (i.toLong, axis(i, 1.0f))) ++
      Seq.tabulate(4)(i => ((i + 4).toLong, axis(i, 0.9f)))).toDF("vec_id", "embedding")
    val delta = Seq(
      (100L, axis(0, 0.95f)), (101L, axis(1, 0.5f)), (102L, axis(2, 0.88f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.ivfUpsertReport(base, delta, nAnchors = 4, dim = 4)
      .as[(Int, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(0) == ((2L, 10000000000L, 1L, 0L, 5000L)))
    assert(got(1) == ((2L, 10000000000L, 1L, 1L, 5000L)))
    assert(got(2) == ((2L, 10000000000L, 1L, 1L, 5000L)))
    assert(got(3) == ((2L, 10000000000L, 0L, 0L, 0L)))
  }

  test("abttCorrected: exact PC1 orthogonality, and PC1-only differences collapse") {
    // dominant axis 0 (big spread) + residual axis 2: pairs (0,1) and
    // (2,3) differ ONLY along axis 0, so after ABTT each pair collapses
    // to the same corrected vector (cosine exactly 1 within the pair)
    val data = Seq(
      0L -> Seq(0.9f, 0.0f, 0.1f, 0.0f),
      1L -> Seq(-0.9f, 0.0f, 0.1f, 0.0f),
      2L -> Seq(0.7f, 0.0f, -0.1f, 0.0f),
      3L -> Seq(-0.7f, 0.0f, -0.1f, 0.0f)
    )
    val corrected = Similarity.abttCorrected(data.toDF("vec_id", "embedding"))
      .as[(Long, Seq[Double])].collect().toMap
    // recover the milli PC1 the operator used, by replaying its own rule
    val v1 = Similarity.topTwoPrincipalComponents(
      data.toDF("vec_id", "embedding"), scale = 1000L)
      .filter($"component" === 1).orderBy($"dim")
      .as[(Int, Int, Long)].collect().map(_._3)
    def rhuMilli(x: Long): Long = Math.floorDiv(2 * x + 1000, 2000)
    val v1m = v1.map(rhuMilli)
    corrected.values.foreach { v =>
      val d = v.zip(v1m).map { case (a, b) => BigDecimal(a) * b }.sum
      assert(d == 0, s"corrected vector not orthogonal to milli-PC1: $d")
    }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    assert(cos(corrected(0L), corrected(1L)) > 0.999999)
    assert(cos(corrected(2L), corrected(3L)) > 0.999999)
    assert(cos(corrected(0L), corrected(2L)) < -0.999999) // residual axes oppose
  }

  test("topPrincipalComponent: centering removes a constant offset") {
    // same axis shifted by a constant vector: the centered scatter is
    // unchanged, so the component must be identical
    val base = Seq(-0.5f, -0.25f, 0.25f, 0.5f)
    val shifted = base.map(t => Tuple1(Seq(t + 0.3f, 2 * t + 0.1f, 0.7f, 0.7f)))
      .toDF("embedding")
    val got = Similarity.topPrincipalComponent(shifted)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    // quantization of the shifted floats is not exact, so allow micro slack
    assert(math.abs(got(0) - 500000L) < 2000L, got.toString)
    assert(got(1) == 1000000L)
    assert(math.abs(got(2)) < 2000L && math.abs(got(3)) < 2000L)
  }

  test("centroidCosines: aligned labels hit 1000, orthogonal 0, opposed -1000") {
    // label 0 and 1 both point +x (different magnitudes), 2 points +y,
    // 3 points -x; cosine is scale-invariant over the centroid SUMS
    val vecs = Seq(
      (0, Seq(1.0f, 0.0f)), (0, Seq(0.5f, 0.0f)),
      (1, Seq(0.25f, 0.0f)),
      (2, Seq(0.0f, 0.75f)),
      (3, Seq(-0.5f, 0.0f))
    ).toDF("label", "embedding")
    val got = Similarity.centroidCosines(vecs)
      .as[(Int, Int, Option[Long])].collect()
      .map(r => (r._1, r._2) -> r._3.get).toMap
    assert(got((0, 1)) == 1000L && got((0, 3)) == -1000L && got((1, 3)) == -1000L)
    assert(got((0, 2)) == 0L && got((1, 2)) == 0L && got((2, 3)) == 0L)
  }

  test("labelConfusion: separable clusters stay diagonal, a planted mislabel crosses") {
    val vecs = Seq(
      (0, Seq(1.0f, 0.0f)), (0, Seq(0.9f, 0.1f)), (0, Seq(1.1f, -0.1f)),
      (1, Seq(0.0f, 1.0f)), (1, Seq(0.1f, 0.9f)),
      (1, Seq(1.0f, 0.05f)) // labeled 1 but sits in cluster 0
    ).toDF("label", "embedding")
    val got = Similarity.labelConfusion(vecs)
      .as[(Int, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0, 0)) == 3L)
    assert(got((1, 1)) == 2L)
    assert(got((1, 0)) == 1L) // the planted mislabel
    assert(!got.contains((0, 1)))
  }

  test("CrossMomentAgg matches brute-force moments and excludes wrong-length vectors") {
    import graft.functions.CrossMomentAgg
    val rnd = new scala.util.Random(7)
    val rows = (1 to 20).map(_ => Seq.fill(3)(rnd.nextInt(2001).toLong - 1000))
    val withBad = rows ++ Seq(Seq(1L, 2L)) // wrong length: skipped
    val agg = org.apache.spark.sql.functions.udaf(new CrossMomentAgg())
    val (n, sums, cross) = withBad.map(Tuple1(_)).toDF("q")
      .agg(agg($"q").as("m"))
      .select($"m.n", $"m.sums", $"m.cross")
      .as[(Long, Seq[Long], Seq[Long])].head()
    assert(n == 20L)
    assert(sums == (0 until 3).map(i => rows.map(_(i)).sum))
    for (i <- 0 until 3; j <- i until 3)
      assert(cross(CrossMomentAgg.triIndex(i, j, 3)) ==
        rows.map(r => r(i) * r(j)).sum, s"cell ($i,$j)")
  }

  test("mutualTopK equals the local reciprocal filter of directed top-k") {
    val data = clustered(40)
    val df = data.toDF("vec_id", "embedding")
    val lookup = data.toMap
    val k = 4
    def localTopK(q: Long): Seq[(Long, Int)] = data
      .filter(_._1 != q)
      .map { case (id, v) => (id, math.rint(cosLocal(lookup(q), v) * 1e6) / 1e6) }
      .sortBy { case (id, c) => (-c, id) }
      .take(k).zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
    val directed = data.map(_._1).map(q => q -> localTopK(q).toMap).toMap
    val expected = (for {
      a <- data.map(_._1); b <- data.map(_._1) if a < b
      ra <- directed(a).get(b); rb <- directed(b).get(a)
    } yield (a, b, ra, rb)).toSet
    val got = Similarity.mutualTopK(df, k)
      .select($"id_a", $"id_b", $"rank_ab", $"rank_ba")
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty) // clustered data must yield reciprocal pairs
    // mutuality is symmetric by construction: no (b, a) duplicates
    assert(got.forall { case (a, b, _, _) => a < b })
  }

  test("mutualFromDirected with an IVF leg equals the brute leg on well-separated clusters") {
    // The injectable-leg contract: on a corpus whose true neighbors are
    // all same-cluster (3 tight clusters, jitter ≪ center separation),
    // anchor-IVF candidate generation recovers the exact directed top-k,
    // so the mutuality join over the IVF leg must reproduce the brute
    // leg bit-for-bit — pairs, cosines, and both directed ranks.
    val data = clustered(40)
    val df = data.toDF("vec_id", "embedding")
    val k = 4
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select($"id_a", $"id_b", $"cos_sim", $"rank_ab", $"rank_ba")
      .as[(Long, Long, Double, Int, Int)].collect().toSet
    val brute = rows(Similarity.mutualTopK(df, k))
    val ivf = rows(Similarity.mutualFromDirected(
      Similarity.ivfAnchorTopK(df, df, k, nAnchors = 8, nprobe = 4, dim = dim)))
    assert(brute.nonEmpty)
    assert(ivf == brute)
  }

  test("lofFromDirected: planted isolated point scores far above the dense cluster") {
    val rnd = new Random(42)
    // 20 tight cluster members + 1 far-off outlier (near-orthogonal
    // direction, so its cosine to every cluster member is low)
    val center = Array.tabulate(dim)(j => if (j == 0) 1.0f else 0.0f)
    val data = (0L until 20L).map { i =>
      i -> center.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
    } :+ (99L -> Array.tabulate(dim)(j => if (j == dim - 1) 1.0f else 0.0f))
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity
      .lofFromDirected(Similarity.bruteForceTopK(df, df, k = 4))
      .select($"vec_id", $"lof_milli")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 21)
    // inliers sit near LOF ≈ 1 (6-dp cosine quantization on a tight
    // cluster widens the band); the isolated point is FAR above
    val inliers = got.filter(_._1 != 99L).values
    assert(inliers.forall(l => l > 500 && l < 2500), s"inliers: $inliers")
    assert(got(99L) > 3000, s"outlier lof_milli = ${got(99L)}")
    assert(got(99L) > 2 * inliers.max, s"outlier ${got(99L)} vs max inlier ${inliers.max}")
  }

  test("lofFromDirected reproduces the exact integer chain from the directed frame") {
    val data = clustered(30)
    val df = data.toDF("vec_id", "embedding")
    val k = 4
    val directed = Similarity.bruteForceTopK(df, df, k)
      .select($"query_id", $"neighbor_id", $"cos_sim")
      .as[(Long, Long, Double)].collect()
    // local replay of the documented micro/milli arithmetic
    def halfUp(a: BigInt, b: BigInt): Long = ((2 * a + b) / (2 * b)).toLong
    val d = directed.map { case (q, n, c) =>
      (q, n, 1000000L - math.rint(c * 1e6).toLong)
    }
    val byQ = d.groupBy(_._1)
    val kdist = byQ.map { case (q, rs) => q -> rs.map(_._3).max }
    val nNb = byQ.map { case (q, rs) => q -> rs.length.toLong }
    val lrd = byQ.map { case (q, rs) =>
      val reach = rs.map { case (_, n, dm) => math.max(dm, kdist(n)) }
      q -> halfUp(BigInt(reach.length) * BigInt(1000000000000L), BigInt(reach.sum).max(1))
    }
    val expected = byQ.map { case (q, rs) =>
      val nb = rs.map { case (_, n, _) => lrd(n) }
      (q, kdist(q), nNb(q), lrd(q),
        halfUp(BigInt(nb.sum) * 1000, BigInt(nb.length) * lrd(q)))
    }.toSet
    val got = Similarity.lofFromDirected(Similarity.bruteForceTopK(df, df, k))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("semDedupMutual flags exactly the non-minimal members of planted clone clusters") {
    val rnd = new Random(77)
    // two clone clusters (sizes 3 and 2) + three singletons, all centers
    // near-orthogonal so cross-cluster cosine stays far below threshold
    val centers = Array.tabulate(5) { c =>
      Array.tabulate(dim)(j => if (j == c * 3) 1.0f else rnd.nextGaussian().toFloat * 0.01f)
    }
    val data: Seq[(Long, Array[Float])] =
      Seq(0L -> centers(0), 1L -> centers(0), 2L -> centers(0),
        3L -> centers(1), 4L -> centers(1),
        5L -> centers(2), 6L -> centers(3), 7L -> centers(4))
    val got = Similarity
      .semDedupMutual(data.toDF("vec_id", "embedding"), threshold = 0.9,
        k = 4, nAnchors = 4, nprobe = 2, dim = dim)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 0, 4L -> 1,
      5L -> 0, 6L -> 0, 7L -> 0))
  }

  test("ivfLearnedTopK: one trained centroid per blob — exact recall at nprobe=1, deterministic replay") {
    // 5 well-separated blobs, 12 each, ids adversarial (0..4 all inside
    // blob 0). The k-means|| trained quantizer places one centroid per
    // blob regardless of id layout, so a single probe already holds every
    // true neighbour. (An id-order anchor set is NOT structurally wrong
    // on this fixture — anchors act as random hyperplanes and whole
    // blobs co-locate — which is why the registered face prices the two
    // schemes on the real corpus instead of a constructed one.)
    val rnd = new Random(77)
    val centers = (0 until 5).map(b => Array.tabulate(64)(d => if (d == b) 25.0 else 0.0))
    val data = (0 until 5).flatMap { b =>
      (0 until 12).map { j =>
        val id = if (b == 0) j.toLong else 100L * b + j
        id -> centers(b).map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      }
    }
    val df = data.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id").isin(100L, 200L, 300L, 400L))
    val gold = Similarity.bruteForceTopK(df, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val learned = Similarity.ivfLearnedTopK(df, queries, k = 5, nCentroids = 5, nprobe = 1)
    val got = learned.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == gold) // every true top-5 inside the single probed bucket
    // the trained buckets ARE the blobs: 5 buckets of exactly 12
    val cents = graft.ops.Clustering.parallelLloydCentroids(df, k = 5, ell = 10)
    assert(cents.size == 5)
    val again = Similarity.ivfLearnedTopK(df, queries, k = 5, nCentroids = 5, nprobe = 1)
    assert(learned.collect().toSet == again.collect().toSet) // md5-race determinism

    // probe sweep invariants on the same fixture: candidates and hits
    // monotone in nprobe for BOTH schemes, and probing every bucket is
    // exhaustive (recall 10000, candidates = |queries| * (n - 1))
    val gold5 = Similarity.bruteForceTopK(df, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val sweep = Similarity
      .ivfQuantizerProbeSweep(df, queries, gold5, cents, nprobes = Seq(1, 2, 5), nAnchors = 5)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(4), r.getLong(5)))
      .toMap
    for (scheme <- Seq("anchor16", "kmpp16")) {
      val curve = Seq(1, 2, 5).map(np => sweep((scheme, np)))
      assert(curve.map(_._1) == curve.map(_._1).sorted, s"$scheme candidates monotone")
      assert(curve.map(_._2) == curve.map(_._2).sorted, s"$scheme hits monotone")
      assert(curve.last == ((4L * 59L, 20L, 10000L)), s"$scheme exhaustive at full width")
    }
  }
}
