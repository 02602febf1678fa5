package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact heavy hitters via a Misra-Gries candidate sketch + exact
  * verification — the two-pass recipe that makes a frequency sketch
  * oracle-exact.
  *
  * Pass 1 aggregates the corpus through [[graft.functions.FreqItemsAgg]]
  * (≤ `capacity` counters cross the exchange per partition; the merged
  * sketch is guaranteed to contain every item with true count >
  * n/(capacity+1)). Pass 2 exact-counts ONLY rows matching the ≤ `capacity`
  * candidates — a broadcast-filtered hash aggregate — and applies the
  * threshold to the exact counts. Output is therefore EXACTLY the items
  * with true frequency > n/(capacity+1), independent of partitioning,
  * merge order, or sketch noise.
  */
object HeavyHitters {

  /** Items of `itemCol` with exact count > total/(capacity+1).
    * Output: (item, n) — item column keeps `itemCol`'s name.
    */
  def exactHeavyHitters(df: DataFrame, itemCol: String, capacity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val items = df.select(col(itemCol).cast("string")).as[String]
    // Pass 1: candidate sketch (small driver-side result, ≤ capacity keys).
    val sketch = items
      .groupByKey(_ => 0)
      .agg(new graft.functions.FreqItemsAgg(capacity).toColumn.name("s"))
      .collect()
    val candidates = sketch.headOption.map(_._2.counts.keys.toSeq).getOrElse(Seq.empty)
    // Pass 2 threshold needs the TRUE total, not the sketch's (decremented)
    // one — count it exactly (cheap: count(*) of the same frame).
    val n = df.count()
    df.filter(col(itemCol).cast("string").isin(candidates: _*))
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > n / (capacity + 1))
  }

  // ------------------------------------------------------- count-min sketch

  /** Row-j bucket of an item: md5("j-item") read as a 32-bit integer mod
    * `width` — the portable seeded-hash family used across the engine
    * (feature hashing, md5 minhash), so the sketch is reproducible in ANY
    * engine, byte for byte.
    */
  def cmsBucket(item: Column, j: Int, width: Int): Column =
    pmod(Dedup.md5Hash32(concat(lit(s"$j-"), item)), lit(width.toLong))

  /** Build a count-min sketch over `itemCol` as a (j, bucket, cnt) table.
    *
    * Scale contract: the map stage projects `depth` bucket ids per item,
    * and partial aggregation collapses every partition to ≤ depth·width
    * rows BEFORE the exchange — the shuffle volume is a constant
    * (depth·width·partitions) regardless of item cardinality, which is the
    * entire point of sketching: a groupBy(item) would carry the whole
    * vocabulary. Sketches merge by addition, so shards/days/streams
    * combine with a plain groupBy(j, bucket).sum.
    */
  def cmsBuild(df: DataFrame, itemCol: String, depth: Int, width: Int): DataFrame =
    df.select(posexplode(array((0 until depth).map { j =>
        cmsBucket(col(itemCol), j, width)
      }: _*)).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-estimate counts for literal `probes`: est(x) = min over rows j
    * of sketch[j][h_j(x)] — an upper bound on the true count (CMS never
    * undercounts; overcount ≤ n/width per row, minimized across rows).
    * The sketch is ≤ depth·width rows → broadcast; absent buckets read 0.
    */
  def cmsEstimate(
      sketch: DataFrame,
      probes: Seq[String],
      depth: Int,
      width: Int
  ): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val pb = probes.toDF("token")
      .select(col("token"), posexplode(array((0 until depth).map { j =>
        cmsBucket(col("token"), j, width)
      }: _*)).as(Seq("j", "bucket")))
    pb.join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Self-join output size — the second frequency moment F₂ = Σ_k c_k² —
    * estimated from bounded sketch state next to the exact answer, with
    * both classic estimators:
    *
    *   - AMS (Alon–Matias–Szegedy 1996): per sketch row j a ±1 hash of
    *     the key, S_j = Σ rows sign_j(key); E[S_j²] = F₂ exactly, and the
    *     MEDIAN over rows tames the variance. Unbiased, can land on
    *     either side.
    *   - CMS inner product (Cormode–Muthukrishnan 2005): per row j,
    *     Σ_buckets cnt² ≥ F₂ with equality iff no collisions; min over
    *     rows — an upper bound, like every CMS read.
    *
    * Why this is a 100 TB operator: F₂ IS the output cardinality of a
    * self-equi-join on the key (and the skew term of any join through
    * it). The planner question "can I afford to shuffle-join on user_id,
    * or do I need salting/broadcast?" is exactly an F₂ read, and the
    * sketch answers it with depth·width counters of state — mergeable
    * across shards by addition — where the exact answer costs a full
    * groupBy of the key space. This face prices both estimators' error
    * against the exact moment on the real key distribution.
    *
    * Everything is md5-anchored integer arithmetic (signs and buckets
    * from the engine-portable seeded family above), so the SQL oracle
    * replays sketch state, estimates, and error bits exactly. The
    * depth-bounded `sort_array(collect_list(...))` median is an
    * aggregation over `depth` rows, never a driver collect.
    */
  def selfJoinSizeSketch(
      df: DataFrame,
      keyCol: String,
      depth: Int = 5,
      width: Int = 256
  ): DataFrame = {
    require(depth >= 1 && depth % 2 == 1, "odd depth so the AMS median is one order statistic")
    val freq = df
      .groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val exact = freq.agg(
      coalesce(sum(col("c")), lit(0L)).as("n_rows"),
      count(lit(1)).as("n_keys"),
      coalesce(sum(col("c") * col("c")), lit(0L)).as("f2_exact"))
    // CMS: per row j the bucketed counts, then Σ cnt² per row, min over rows
    val cms = freq
      .select(posexplode(array((0 until depth).map { j =>
        struct(lit(j).as("j"), cmsBucket(col("k").cast("string"), j, width).as("bucket"))
      }: _*)).as(Seq("pos", "jb")), col("c"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(sum(col("c")).as("cnt"))
      .groupBy(col("j"))
      .agg(sum(col("cnt") * col("cnt")).as("sq"))
      .agg(min(col("sq")).as("cms_est"))
    // AMS: sign_j(k) = low md5 bit of a distinct seed family ("s<j>-")
    val ams = freq
      .select(posexplode(array((0 until depth).map { j =>
        struct(
          lit(j).as("j"),
          (Dedup.md5Hash32(concat(lit(s"s$j-"), col("k").cast("string")))
            .bitwiseAND(lit(1L)) * 2 - 1).as("sign"))
      }: _*)).as(Seq("pos", "js")), col("c"))
      .groupBy(col("js.j").as("j"))
      .agg(sum(col("js.sign") * col("c")).as("s"))
      .select((col("s") * col("s")).as("s2"))
      .agg(sort_array(collect_list(col("s2"))).as("all"))
      .select(element_at(col("all"), depth / 2 + 1).as("ams_est"))
    // round-half-up |est−exact|·10⁴/exact in pure integer arithmetic
    // (the double path loses exactness past 2^53)
    exact
      .crossJoin(broadcast(cms))
      .crossJoin(broadcast(ams))
      .select(
        col("n_rows"), col("n_keys"), col("f2_exact"),
        col("cms_est"), col("ams_est"),
        expr("(abs(cms_est - f2_exact) * 20000 + f2_exact) DIV (2 * greatest(f2_exact, 1))")
          .as("cms_err_bps"),
        expr("(abs(ams_est - f2_exact) * 20000 + f2_exact) DIV (2 * greatest(f2_exact, 1))")
          .as("ams_err_bps"))
  }

  /** The CMS width knob for F₂ closed into a measured CURVE: the
    * self-join face shows CMS overshooting 5.7× at w=256 — this sweep
    * answers the follow-up a planner actually asks: how much sketch
    * state buys how much accuracy. Per width the min-over-rows inner
    * product and its round-half-up error bps against the exact moment —
    * the theory says the additive term falls as n²/w, so each 4× width
    * should cut the overshoot ~4×; the curve shows where the estimate
    * becomes decision-grade ON THIS distribution instead of quoting the
    * bound. One frequency aggregation serves every width (the sketch
    * rebuilds per w are |keys|-sized projections off the checkpointed
    * frame, never corpus rescans).
    */
  def f2WidthSweep(
      df: DataFrame,
      keyCol: String,
      depth: Int = 5,
      widths: Seq[Int] = Seq(256, 1024, 4096, 16384)
  ): DataFrame = {
    require(widths.nonEmpty)
    val freq = df
      .groupBy(col(keyCol).cast("string").as("k"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val exact = freq
      .agg(coalesce(sum(col("c") * col("c")), lit(0L)).as("f2_exact"))
      .localCheckpoint(eager = true)
    widths.map { w =>
      freq
        .select(posexplode(array((0 until depth).map { j =>
          struct(lit(j).as("j"), cmsBucket(col("k"), j, w).as("bucket"))
        }: _*)).as(Seq("pos", "jb")), col("c"))
        .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
        .agg(sum(col("c")).as("cnt"))
        .groupBy(col("j"))
        .agg(sum(col("cnt") * col("cnt")).as("sq"))
        .agg(min(col("sq")).as("cms_est"))
        .crossJoin(broadcast(exact))
        .select(
          lit(w).as("width"),
          col("f2_exact"),
          col("cms_est"),
          expr("(abs(cms_est - f2_exact) * 20000 + f2_exact) DIV (2 * greatest(f2_exact, 1))")
            .as("cms_err_bps"))
    }.reduce(_ unionByName _)
  }

  /** TWO-table join-size estimation — the general inner product
    * |A ⋈ B| = Σ_k cA(k)·cB(k) that [[selfJoinSizeSketch]] specializes:
    * the same two estimators (AMS: E[S_A,j·S_B,j] = the inner product,
    * median over rows; CMS: Σ_b cntA·cntB per row, min over rows, upper
    * bound) against the exact answer. The planner question this prices:
    * estimate a fact–fact join's output from two INDEPENDENTLY built,
    * mergeable d·w sketches before paying the shuffle — A's and B's
    * sketches never see each other's data, only the shared seeded hash
    * family (AMS 1996 / Cormode–Muthukrishnan 2005 inner-product
    * guarantee: additive error nA·nB/w for CMS). Keys hash as strings so
    * heterogeneous column types join consistently.
    */
  def joinSizeSketch(
      dfA: DataFrame,
      keyColA: String,
      dfB: DataFrame,
      keyColB: String,
      depth: Int = 5,
      width: Int = 256
  ): DataFrame = {
    require(depth >= 1 && depth % 2 == 1, "odd depth so the AMS median is one order statistic")
    def freqOf(df: DataFrame, c: String) =
      df.groupBy(col(c).cast("string").as("k"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = true)
    val fa = freqOf(dfA, keyColA)
    val fb = freqOf(dfB, keyColB)
    val exact = fa
      .join(fb.select(col("k"), col("c").as("cb")), Seq("k"))
      .agg(coalesce(sum(col("c") * col("cb")), lit(0L)).as("join_exact"))
      .crossJoin(broadcast(fa.agg(count(lit(1)).as("n_keys_a"))))
      .crossJoin(broadcast(fb.agg(count(lit(1)).as("n_keys_b"))))
    def cmsRows(freq: DataFrame) = freq
      .select(posexplode(array((0 until depth).map { j =>
        struct(lit(j).as("j"), cmsBucket(col("k"), j, width).as("bucket"))
      }: _*)).as(Seq("pos", "jb")), col("c"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(sum(col("c")).as("cnt"))
    val cms = cmsRows(fa).withColumnRenamed("cnt", "ca")
      .join(cmsRows(fb).withColumnRenamed("cnt", "cb2"), Seq("j", "bucket"))
      .groupBy(col("j"))
      .agg(sum(col("ca") * col("cb2")).as("ip"))
      .agg(min(col("ip")).as("cms_est"))
    def amsRows(freq: DataFrame) = freq
      .select(posexplode(array((0 until depth).map { j =>
        struct(
          lit(j).as("j"),
          (Dedup.md5Hash32(concat(lit(s"s$j-"), col("k"))).bitwiseAND(lit(1L)) * 2 - 1).as("sign"))
      }: _*)).as(Seq("pos", "js")), col("c"))
      .groupBy(col("js.j").as("j"))
      .agg(sum(col("js.sign") * col("c")).as("s"))
    val ams = amsRows(fa).withColumnRenamed("s", "sa")
      .join(amsRows(fb).withColumnRenamed("s", "sb"), Seq("j"))
      .select((col("sa") * col("sb")).as("p"))
      .agg(sort_array(collect_list(col("p"))).as("all"))
      .select(element_at(col("all"), depth / 2 + 1).as("ams_est"))
    exact
      .crossJoin(broadcast(cms))
      .crossJoin(broadcast(ams))
      .select(
        col("n_keys_a"), col("n_keys_b"), col("join_exact"),
        col("cms_est"), col("ams_est"),
        expr("(abs(cms_est - join_exact) * 20000 + join_exact) DIV (2 * greatest(join_exact, 1))")
          .as("cms_err_bps"),
        expr("(abs(ams_est - join_exact) * 20000 + join_exact) DIV (2 * greatest(join_exact, 1))")
          .as("ams_err_bps"))
  }

  // ------------------------------------------------------------ HyperLogLog

  /** log2 of the register count, validated: m must be a power of two with
    * 4 ≤ p ≤ 16 so the 32-bit md5 hash leaves ≥ 16 rho bits.
    */
  private def hllP(m: Int): Int = {
    val p = java.lang.Integer.numberOfTrailingZeros(m)
    require(m > 0 && (1 << p) == m && p >= 4 && p <= 16,
      s"HLL register count must be a power of two in [16, 65536], got $m")
    p
  }

  /** Standard HLL bias constant alpha_m (Flajolet et al. 2007). */
  private[graft] def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** rho column for the residual hash bits `w` of a (32-p)-bit value:
    * leading zeros + 1, via `length(bin(w))` — a STRING length, identical
    * in every engine (no clz/log2 float tricks).
    */
  private def hllRho(w: Column, p: Int): Column =
    when(w === 0L, lit(33 - p)).otherwise(lit(33 - p) - length(bin(w)))

  /** Portable HyperLogLog registers over `itemCol` (default m = 64, p =
    * 6): bucket = md5 hash mod m, rho = leading-zero count of the
    * remaining 32-p hash bits + 1, register = max rho per bucket.
    * Precision dials with `m` (standard error ≈ 1.04/√m: 13% at 64, 1.6%
    * at 4096) — per-group state stays ≤ m registers either way.
    *
    * Scale contract (why HLL at all): partial aggregation collapses every
    * partition to ≤ m registers before the exchange, and registers merge
    * by elementwise max — shards/days/streams combine with a plain
    * groupBy(bucket).max. Distinct-counting 100 TB costs one scan and an
    * m-row shuffle.
    */
  def hllRegisters(df: DataFrame, itemCol: String, seed: String = "hll", m: Int = 64): DataFrame = {
    val p = hllP(m)
    val hv = Dedup.md5Hash32(concat(lit(s"$seed-"), col(itemCol)))
    df.select((hv % m).cast("int").as("bucket"), shiftright(hv, p).as("w"))
      .select(col("bucket"), hllRho(col("w"), p).as("rho"))
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("rho"))
  }

  /** Event-time windowed HLL registers: distinct-count state per time
    * window is ≤ m registers REGARDLESS of cardinality — the streaming
    * "distinct users per window" that an exact distinct can't do with
    * bounded state. Works identically on batch and streaming frames
    * (apply `withWatermark` upstream for state eviction); per-window
    * estimates come from [[hllEstimate]] grouped by window downstream.
    */
  def hllRegistersWindowed(
      df: DataFrame,
      itemCol: String,
      timeCol: String,
      windowDuration: String,
      seed: String = "hll",
      m: Int = 64
  ): DataFrame = {
    val p = hllP(m)
    val hv = Dedup.md5Hash32(concat(lit(s"$seed-"), col(itemCol)))
    df.select(
        window(col(timeCol), windowDuration).as("win"),
        (hv % m).cast("int").as("bucket"),
        shiftright(hv, p).as("w"))
      .select(col("win"), col("bucket"), hllRho(col("w"), p).as("rho"))
      .groupBy(col("win"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
  }

  /** Grouped HLL registers: one ≤ m-register sketch per `keyCol` group —
    * "distinct users per day/segment" with per-group state bounded by m.
    */
  def hllRegistersBy(
      df: DataFrame,
      itemCol: String,
      keyCol: String,
      seed: String = "hll",
      m: Int = 64
  ): DataFrame = {
    val p = hllP(m)
    val hv = Dedup.md5Hash32(concat(lit(s"$seed-"), col(itemCol)))
    df.select(col(keyCol), (hv % m).cast("int").as("bucket"), shiftright(hv, p).as("w"))
      .select(col(keyCol), col("bucket"), hllRho(col("w"), p).as("rho"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(max(col("rho")).as("rho"))
  }

  /** Rolling-window union sketches by register merge: for each key (day),
    * the merged HLL over the trailing `windowSpan` keys is the per-bucket
    * MAX of the per-key registers — the mergeability that makes sketches
    * the right rolling-distinct tool at scale: a 7-day rolling distinct
    * re-reads NOTHING (exact distinct would re-scan 7 days of raw events
    * per day, or keep an unbounded user set per window). Input is the
    * sparse [[hllRegistersBy]] output; the key must be integral (day
    * index) — the window is RANGE-based, so calendar gaps merge the
    * trailing `windowSpan` KEY VALUES, not rows. Output: dense merged
    * registers, feed to [[hllEstimateBy]].
    *
    * Shape: everything here runs on sketch frames (≤ |keys|·m rows —
    * thousands, not billions); the single raw-data scan happened in
    * [[hllRegistersBy]].
    */
  def hllRollingRegisters(
      daily: DataFrame,
      keyCol: String,
      windowSpan: Long,
      m: Int = 64
  ): DataFrame = {
    require(windowSpan >= 1, "windowSpan must be >= 1")
    hllP(m)
    val spark = daily.sparkSession
    // the sketch frame is referenced twice (key list + the grid join);
    // without cutting the lineage both references would re-run the raw
    // scan+aggregation upstream (no common-subplan reuse). The frame is
    // ≤ |keys|·m rows — checkpoint is pennies, the second scan is not.
    val d = daily.localCheckpoint(eager = true)
    val keys = d.select(col(keyCol)).distinct()
    val buckets = spark.range(0, m).select(col("id").cast("int").as("bucket"))
    val dense = keys
      .crossJoin(buckets)
      .join(d, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"), coalesce(col("rho"), lit(0)).cast("int").as("rho"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(col(keyCol))
      .rangeBetween(-(windowSpan - 1), 0)
    dense.select(col(keyCol), col("bucket"), max(col("rho")).over(w).as("rho"))
  }

  /** Set-intersection cardinality by inclusion–exclusion over MERGED
    * sketches: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch
    * is the per-bucket register MAX — the composition that makes sketches
    * an algebra, not just counters. Exact intersection of two 100 TB-day
    * user sets would shuffle both sets; this crosses the exchange with
    * 2·m register rows and never materializes either set.
    *
    * Output: one row (est_a_micro, est_b_micro, est_union_micro,
    * est_intersect_micro). The intersect estimate inherits both sketches'
    * error and can go negative on tiny overlaps — it is the standard
    * HLL inclusion–exclusion estimator, reported as-is (deterministic,
    * oracle-exact).
    */
  def hllIntersect(
      a: DataFrame,
      b: DataFrame,
      itemCol: String,
      seed: String = "hll",
      m: Int = 64
  ): DataFrame = {
    val keyed = a
      .select(lit("a").as("k"), col(itemCol))
      .union(b.select(lit("b").as("k"), col(itemCol)))
    // referenced twice (own rows + union-merge) — cut the lineage on the
    // ≤ 2·m-row register frame
    val regs = hllRegistersBy(keyed, itemCol, "k", seed, m).localCheckpoint(eager = true)
    val uni = regs
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("rho"))
      .select(lit("u").as("k"), col("bucket"), col("rho"))
    val est = hllEstimateBy(regs.union(uni), "k", m)
    est
      .groupBy()
      .agg(
        max(when(col("k") === "a", col("est_micro"))).as("est_a_micro"),
        max(when(col("k") === "b", col("est_micro"))).as("est_b_micro"),
        max(when(col("k") === "u", col("est_micro"))).as("est_union_micro"))
      .withColumn(
        "est_intersect_micro",
        col("est_a_micro") + col("est_b_micro") - col("est_union_micro"))
  }

  /** Per-group estimates from [[hllRegistersBy]] output: complete each
    * group to the full m buckets (an intentional keys × m cross join —
    * tiny by construction), then the same exact-integer harmonic mean and
    * correction as [[hllEstimate]], per group.
    */
  def hllEstimateBy(registers: DataFrame, keyCol: String, m: Int = 64): DataFrame = {
    val spark = registers.sparkSession
    hllP(m)
    // same double-reference trap as hllRollingRegisters: cut the lineage
    // once on the sketch-sized frame so the raw scan runs exactly once
    val r = registers.localCheckpoint(eager = true)
    val keys = r.select(col(keyCol)).distinct()
    val buckets = spark.range(0, m).select(col("id").cast("int").as("bucket"))
    val full = keys
      .crossJoin(buckets)
      .join(r, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), coalesce(col("rho"), lit(0)).cast("int").as("rho"))
    val agg = full
      .groupBy(col(keyCol))
      .agg(
        sum(expr("shiftleft(1L, 32 - rho)")).as("s_scaled"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).as("v_empty"))
    val rawE = lit(hllAlpha(m)) * lit(m.toDouble * m) /
      (col("s_scaled").cast("double") / lit(4294967296.0))
    val linE = lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty").cast("double"))
    val est = when(rawE <= lit(2.5 * m) && col("v_empty") > 0L, linE).otherwise(rawE)
    agg.select(
      col(keyCol),
      col("v_empty"),
      col("s_scaled"),
      floor(est * lit(1e6) + lit(0.5)).cast("long").as("est_micro"))
  }

  /** HLL cardinality estimate from the register table, with the standard
    * small-range (linear counting) correction. The harmonic-mean
    * denominator Σ 2^(-rho) is computed EXACTLY: each term scales to the
    * integer 2^(32-rho) and the sum is a long — no float accumulation, so
    * the estimate is one fixed-order double expression (micro-rounded,
    * oracle-exact). Emits one row: (m, v_empty, s_scaled, est_micro).
    */
  def hllEstimate(registers: DataFrame, m: Int = 64): DataFrame = {
    val spark = registers.sparkSession
    import spark.implicits._
    hllP(m)
    val all = (0 until m).toDF("bucket")
    val regs = all
      .join(registers, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("rho"), lit(0)).cast("int").as("rho"))
    val agg = regs.agg(
      sum(expr("shiftleft(1L, 32 - rho)")).as("s_scaled"),
      sum(when(col("rho") === 0, 1L).otherwise(0L)).as("v_empty"))
    // E = alpha_m · m² / (S / 2³²); if E ≤ 2.5m and V > 0 → m·ln(m/V)
    val rawE = lit(hllAlpha(m)) * lit(m.toDouble * m) /
      (col("s_scaled").cast("double") / lit(4294967296.0))
    val linE = lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty").cast("double"))
    val est = when(rawE <= lit(2.5 * m) && col("v_empty") > 0L, linE).otherwise(rawE)
    agg.select(
      lit(m).as("m"),
      col("v_empty"),
      col("s_scaled"),
      floor(est * lit(1e6) + lit(0.5)).cast("long").as("est_micro"))
  }
}
