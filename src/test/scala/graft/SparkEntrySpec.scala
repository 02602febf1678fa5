package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs at sf0.001 and returns rows; every
  * oracle key refers to a registered query. (Value-level correctness is the
  * driver's DuckDB gate, mirrored locally by tools/check_oracle.py.)
  */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle without query: $unknown")
  }

  test("every oracleSql string matches its golden sha256 digest") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(OracleDigest.resource), "UTF-8")
    val golden =
      try src.getLines().map { l => val Array(n, h) = l.split('\t'); n -> h }.toMap
      finally src.close()
    val now = OracleDigest.digests.toMap
    val missing = (golden.keySet -- now.keySet).toSeq.sorted
    val added = (now.keySet -- golden.keySet).toSeq.sorted
    val changed = golden.keySet.intersect(now.keySet).filter(n => golden(n) != now(n)).toSeq.sorted
    assert(missing.isEmpty && added.isEmpty && changed.isEmpty,
      s"oracle SQL drifted from ${OracleDigest.resource}: changed=$changed " +
        s"missing=$missing added=$added (regenerate only for an intended change: " +
        "sbt \"Test/runMain graft.OracleDigest src/test/resources/oracle_sql.sha256\")")
  }

  test("a query name declared twice fails the index, naming it") {
    import graft.registry.Query
    val plan: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      SparkEntry.index(Seq(
        Query("user_score")(plan),
        Query("team_score")(plan),
        Query("user_score")(plan).oracle("SELECT 1")))
    }
    assert(e.getMessage.contains("user_score") && !e.getMessage.contains("team_score"),
      e.getMessage)
    assert(SparkEntry.index(Seq(Query("user_score")(plan))).keySet == Set("user_score"))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Queries whose EMPTY result at the sf0.001 smoke corpus is the correct
    * answer, not a failure — each with the reason. The oracle gate still
    * value-checks them (empty hashes against empty); everything else must
    * return rows.
    */
  private val emptyOkAtSmoke: Map[String, String] = Map(
    // the tiny corpus has no media near-dups: its closest banded candidate
    // sits at Hamming 10+, deep in the unrelated-pair background — the
    // companion media_ahash_hamming_hist row documents exactly that
    "media_ahash_neardup_pairs" ->
      "no media payload pair within Hamming 6 exists at sf0.001",
    // the ~40-user smoke corpus has no two users sharing a sorted
    // quantized profile bucket, so the banded DTW chain has zero
    // candidates — the recall face documents the same emptiness against
    // its sampled gold, and both faces return rows from sf0.01 up
    "ts_dtw_allpairs_topk" ->
      "no banded DTW candidate pair exists at sf0.001",
    "ts_dtw_allpairs_stats" ->
      "no banded DTW candidate pair exists at sf0.001 (empty census)"
  )

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs and returns rows at sf0.001") {
      val df = fn(spark, dir)
      if (emptyOkAtSmoke.contains(name)) df.count() // must still run clean
      else assert(df.count() > 0, name)
      // global scale guard: no registered query may plan an unpartitioned
      // window (the single-task global sort WindowExec) — the distributed
      // Ranking primitives exist for exactly that shape
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.forall(_.partitionSpec.nonEmpty), s"$name has an unpartitioned window")
    }
  }
}
