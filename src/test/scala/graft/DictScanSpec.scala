package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DictScan

class DictScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Brute all-occurrence count: indexOf stepping by ONE (overlaps seen). */
  private def bruteAll(text: String, p: String): Long = {
    var i = text.indexOf(p); var n = 0L
    while (i >= 0) { n += 1; i = text.indexOf(p, i + 1) }
    n
  }

  /** Brute NON-overlapping count: indexOf stepping by the pattern length
    * (the SQL replace-length formula's semantics).
    */
  private def bruteNonOverlap(text: String, p: String): Long = {
    var i = text.indexOf(p); var n = 0L
    while (i >= 0) { n += 1; i = text.indexOf(p, i + p.length) }
    n
  }

  test("automaton reports ALL occurrences including overlaps and nested patterns") {
    val auto = DictScan.Automaton.build(Seq("aa", "he", "she", "his", "hers"))
    val c1 = auto.scan("aaaa")
    assert(c1(0) == 3L, "self-overlapping aa in aaaa")
    val c2 = auto.scan("ushers")
    // ushers: she at 1, he at 2, hers at 2
    assert(c2.get(2).contains(1L), "she")
    assert(c2.get(1).contains(1L), "he (inside ushers, via fail-link inheritance)")
    assert(c2.get(4).contains(1L), "hers")
    assert(!c2.contains(3), "his absent")
  }

  test("automaton counts match brute all-occurrence counts on random text") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abc "
    val text = Seq.fill(4000)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val patterns = Seq("a", "ab", "aba", " a", "ca ", "bb", "abc", " ", "aa")
    val auto = DictScan.Automaton.build(patterns)
    val got = auto.scan(text)
    for ((p, id) <- patterns.zipWithIndex)
      assert(got.getOrElse(id, 0L) == bruteAll(text, p), s"pattern '$p'")
  }

  test("no-self-border theorem: space-prefixed patterns make all-occurrence == non-overlapping") {
    // a space-prefixed pattern with a space-free tail cannot overlap
    // itself (a proper border would start with ' ' AND sit inside the
    // tail), so the two counting semantics coincide — the equivalence the
    // oracle's replace-length formula relies on
    val rnd = new scala.util.Random(13)
    val words = Seq("the", "aa", "aba", "thethe", "x")
    val text = Seq.fill(3000)(words(rnd.nextInt(words.length))).mkString(" ")
    val patterns = words.map(" " + _)
    val auto = DictScan.Automaton.build(patterns)
    val got = auto.scan(" " + text)
    for ((p, id) <- patterns.zipWithIndex) {
      val all = bruteAll(" " + text, p)
      assert(all == bruteNonOverlap(" " + text, p), s"'$p' self-overlapped")
      assert(got.getOrElse(id, 0L) == all, s"automaton count for '$p'")
    }
  }

  test("scanCounts + faces reconcile against brute per-doc counts") {
    val docs = Seq(
      (1L, "the cat and the dog and the cat"),
      (2L, "dog dog dog"),
      (3L, "nothing here"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val patterns = Seq(" the", " dog", " cat")
    val scanned = DictScan.scanCounts(docs, patterns)
    val got = scanned.as[(Long, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got((1L, " the")) == 3L)
    assert(got((1L, " cat")) == 2L)
    assert(got((2L, " dog")) == 3L)
    assert(!got.contains((3L, " the")) && !got.keys.exists(_._1 == 4L))
    val stats = DictScan.docStats(scanned).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_hits"), r.getAs[Long]("n_patterns")))
      .toMap
    assert(stats(1L) == (6L, 3L))
    assert(stats(2L) == (3L, 1L))
    val totals = DictScan.patternTotals(scanned).collect()
      .map(r => r.getAs[String]("pattern") -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occurrences")))
      .toMap
    assert(totals(" dog") == (2L, 4L))
    // books close across the two faces
    assert(stats.values.map(_._1).sum == totals.values.map(_._2).sum)
  }

  test("topTokenDictionary: df-ranked, deterministic ties, space-prefixed") {
    val docs = Seq(
      (1L, "zz aa bb"), (2L, "zz aa"), (3L, "zz bb"), (4L, "zz")).toDF("doc_id", "text")
    val dict = DictScan.topTokenDictionary(docs, 3)
    assert(dict == Seq(" zz", " aa", " bb")) // df 4, 2, 2 — tie broken by token
  }

  test("blocklistFilter: stateless ingest-time filtering, streaming-safe") {
    // batch face
    val docs = Seq(
      (1L, "clean words only"),
      (2L, "contains badword here"),
      (3L, "another clean one")).toDF("doc_id", "text")
    val kept = DictScan.blocklistFilter(docs, Seq(" badword")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    // streaming face: same op on a MemoryStream, no state store involved
    implicit val ctx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val filtered = DictScan.blocklistFilter(
      input.toDF().toDF("doc_id", "text"), Seq(" badword"))
    val q = filtered.writeStream.format("memory").queryName("bl_out").outputMode("append").start()
    try {
      input.addData(Seq((10L, "fine"), (11L, "a badword inside"), (12L, "ok")))
      q.processAllAvailable()
      input.addData(Seq((13L, "badword leads")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bl_out").collect().map(_.getLong(0)).toSet
    // doc 13 starts with "badword" — the scan prepends a space, so the
    // space-prefixed pattern catches doc-initial tokens too
    assert(got == Set(10L, 12L))
  }

  test("Automaton.hits agrees with scan non-emptiness and short-circuits") {
    val pats = Seq("needle", "aa", " x")
    val auto = DictScan.Automaton.build(pats)
    val samples = Seq(
      "", "clean text", "a needle here", "haaystack", "y x z",
      "needle", "aaaa", "no hits anywhere", null)
    for (t <- samples)
      assert(auto.hits(t) == (t != null && auto.scan(t).nonEmpty), s"text '$t'")
    // first-hit position semantics: a hit at char k is found without
    // reading past k (proven on a text whose suffix would add more hits)
    assert(auto.hits("aa" + "zz" * 1000 + "needle"))
  }

  test("overlapCountsReport: all-occurrence vs non-overlapping diverge on runs") {
    val docs = Seq(
      (1L, "sort sort sort sort data"), // run of 4: all=3, nonoverlap=2
      (2L, "sort sort data sort sort"), // two runs of 2: all=2, nonoverlap=2
      (3L, "merge sort merge sort"), // no doubled word → no row
      (4L, "xsort sort sort ends") // char-level: 'xsort sort' tail ALSO matches
    ).toDF("doc_id", "text")
    val got = DictScan
      .overlapCountsReport(docs, Seq("sort sort"))
      .as[(Long, String, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._3, r._4, r._5)))
      .toMap
    assert(got(1L) == ((3L, 2L, 1L)))
    assert(got(2L) == ((2L, 2L, 0L)))
    assert(!got.contains(3L))
    // doc 4 pins the CHAR-LEVEL contract: "xsort sort sort" holds two
    // char occurrences of "sort sort" (one starting inside "xsort") —
    // exactly why the registered corpus face needs the no-prefix/suffix
    // data contract for its token-adjacency oracle
    assert(got(4L) == ((2L, 1L, 1L)))
    // both legs reconcile with the brute counters on every row
    val texts = docs.as[(Long, String)].collect().toMap
    for ((id, (a, no, _)) <- got) {
      assert(a == bruteAll(texts(id), "sort sort"), s"doc $id all")
      assert(no == bruteNonOverlap(texts(id), "sort sort"), s"doc $id nonoverlap")
    }
  }

  test("dict_scan_overlap_counts data contract: no corpus word carries a pattern word " +
    "as proper prefix or suffix (gate-corpus assertion, fails loudly on generator drift)") {
    // The registered face's oracle counts token-adjacent pairs while the
    // Spark side counts char-level occurrences; the two are equal ONLY
    // when no vocabulary word extends a pattern word at either end (the
    // 'xsort' fixture above is exactly the divergence this rules out).
    // Asserted here over the driver-gate corpus so a testdata-generator
    // change breaks THIS test, not the oracle hash.
    import org.apache.spark.sql.functions._
    val offenders = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .distinct()
      .filter(
        registry.TextQueries.OverlapBigramWords
          .map(p => col("w") =!= p && (col("w").startsWith(p) || col("w").endsWith(p)))
          .reduce(_ || _))
      .collect()
      .map(_.getString(0))
    assert(
      offenders.isEmpty,
      s"corpus words break the token-adjacency oracle contract: ${offenders.mkString(", ")}")
  }
}
