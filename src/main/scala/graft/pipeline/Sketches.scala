package graft.pipeline

import graft.functions.Exact
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/**
 * Bounded k-minimum-values buffer over (group, hash) pairs: keeps the k
 * smallest DISTINCT hash values, sorted ascending. Like
 * [[graft.functions.MinKPairs]], the buffer is bounded so partial (map-side)
 * aggregation ships at most k longs per group per partition — the
 * difference between shuffling k values and shuffling every distinct
 * element, which is what an exact distinct count pays.
 */
class KMinAggregator(k: Int)
    extends Aggregator[Long, Seq[Long], Seq[Long]] {
  require(k >= 1, s"KMV needs k >= 1, got $k")
  override def zero: Seq[Long] = Nil
  override def reduce(b: Seq[Long], a: Long): Seq[Long] =
    if (b.length >= k && a >= b.last) b
    else {
      val i = b.indexWhere(_ >= a)
      if (i >= 0 && b(i) == a) b // already present: KMV is a distinct sketch
      else {
        val ins = if (i < 0) b :+ a else (b.take(i) :+ a) ++ b.drop(i)
        if (ins.length > k) ins.take(k) else ins
      }
    }
  override def merge(x: Seq[Long], y: Seq[Long]): Seq[Long] =
    y.foldLeft(x)(reduce)
  override def finish(r: Seq[Long]): Seq[Long] = r
  override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}

/**
 * Distinct-cardinality sketches for corpus statistics — the "how many
 * distinct n-grams / urls / fingerprints per slice" questions that are
 * exact-count-prohibitive at 100 TB.
 *
 * KMV (k-minimum-values — Bar-Yossef et al. 2002): hash every element
 * uniformly into [0, 2³²); the k-th smallest distinct hash estimates the
 * cardinality as D ≈ (k−1)·2³² / kth. Unlike HLL the estimator is a pure
 * deterministic function of the hash set, so an engine-independent
 * oracle reproduces it EXACTLY — and the hash here is an md5 prefix,
 * computable in both engines.
 */
object Sketches {

  /** 32-bit uniform hash from the md5 prefix (exact in both engines). */
  def md5Hash32(v: Column): Column =
    conv(substring(md5(v.cast("binary")), 1, 8), 16, 10).cast("long")

  private val HashRange = 4294967296.0 // 2^32

  /**
   * Per-group KMV distinct estimate over `valueHash` (a 32-bit hash
   * column). The production shape: the only shuffle ships ≤ k longs per
   * (group, partition).
   */
  def kmvDistinct(df: DataFrame, group: Column, valueHash: Column,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(group.cast("string").as("g"), valueHash.cast("long").as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new KMinAggregator(k).toColumn.name("mins"))
      .toDF("source", "mins")
      .select(col("source"),
        size(col("mins")).as("n_kept"),
        element_at(col("mins"), -1).as("kth_min"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(Exact.rRow(
            lit((k - 1).toDouble * HashRange) / col("kth_min"), 2)))
  }

  /**
   * [[kmvDistinct]] plus the exact distinct count alongside — the
   * VERIFICATION-scale variant (the exact side pays the full
   * distinct-hash shuffle the sketch exists to avoid; production calls
   * [[kmvDistinct]]). The hashed relation is persisted so both branches
   * share one scan.
   */
  def kmvDistinctVerified(df: DataFrame, group: Column, valueHash: Column,
      k: Int): DataFrame = {
    val pairs = graft.CacheScope.track(
      df.select(group.cast("string").as("g"), valueHash.cast("long").as("h")))
    val exact = pairs.groupBy(col("g").as("source"))
      .agg(countDistinct(col("h")).as("exact_distinct"))
    kmvDistinct(pairs, col("g"), col("h"), k).join(exact, Seq("source"))
  }

  /**
   * KMV sketch SET OPERATIONS (Beyer et al. 2007, "On synopses for
   * distinct-value estimation", §4): estimate |A|, |B|, |A∪B|, Jaccard,
   * and |A∩B| for two item sets from their k-min hash sketches alone —
   * the cross-source vocabulary-overlap question answered WITHOUT the
   * distinct-pair join an exact answer needs. The union sketch is the k
   * smallest of the two sketches' union; the match fraction ρ = |{h in
   * the union sketch present in BOTH per-set sketches}| / k estimates
   * Jaccard, and ρ·est(|A∪B|) estimates the intersection.
   *
   * Everything is a pure function of the deterministic md5 hash set, so
   * an oracle reproduces the estimates exactly (no tolerance needed);
   * accuracy vs exact is a spec property, not an oracle one.
   *
   * Shape at 100 TB: the corpus collapses to distinct (group, hash) —
   * vocabulary-scale — in one map-side-partial agg; every relation after
   * the rank windows is ≤ k rows, and the production path replaces the
   * rank windows with [[KMinAggregator]] (k-bounded partials) exactly as
   * [[kmvDistinct]] does. This variant keeps the relational formulation
   * so the set-op algebra itself is oracle-checkable.
   */
  def kmvSetOps(df: DataFrame, group: Column, item: Column, k: Int,
      grpA: String, grpB: String): DataFrame = {
    require(k > 1, s"need k > 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
    val hashes = df
      .select(group.cast("string").as("g"), md5Hash32(item).as("h"))
      .filter(col("g").isin(grpA, grpB))
      .distinct()
    val ranked = graft.CacheScope.track(hashes
      .withColumn("rn", row_number().over(
        w.partitionBy(col("g")).orderBy(col("h"))))
      .filter(col("rn") <= k))
    def sketchOf(grp: String) = ranked.filter(col("g") === grp)
    def estOf(grp: String, as: String) = sketchOf(grp)
      .agg(count(lit(1)).as(s"n_$as"), max(col("h")).as(s"kth_$as"))
      .select(col(s"n_$as"), when(col(s"n_$as") < k,
          col(s"n_$as").cast("double"))
        .otherwise(Exact.rRow(lit((k - 1) * HashRange) / col(s"kth_$as"), 2))
        .as(s"est_$as"))
    // union sketch: k smallest of the two sketches' merged hash set
    // (≤ 2k rows — the single-partition window is sketch-scale, not data-scale)
    val u = sketchOf(grpA).select(col("h"))
      .union(sketchOf(grpB).select(col("h"))).distinct()
      .withColumn("rn", row_number().over(w.orderBy(col("h"))))
      .filter(col("rn") <= k)
    val inBoth = u
      .join(sketchOf(grpA).select(col("h")), Seq("h"), "left_semi")
      .join(sketchOf(grpB).select(col("h")), Seq("h"), "left_semi")
    val uAgg = u.agg(count(lit(1)).as("n_u"), max(col("h")).as("kth_u"))
      .select(col("n_u"), when(col("n_u") < k, col("n_u").cast("double"))
        .otherwise(Exact.rRow(lit((k - 1) * HashRange) / col("kth_u"), 2))
        .as("est_union"))
    val m = inBoth.agg(count(lit(1)).as("n_both"))
    estOf(grpA, "a").crossJoin(estOf(grpB, "b")).crossJoin(uAgg).crossJoin(m)
      .select(lit(grpA).as("grp_a"), lit(grpB).as("grp_b"),
        lit(k).as("k"), col("n_a"), col("n_b"),
        col("est_a"), col("est_b"), col("est_union"),
        Exact.rRow(col("n_both") / col("n_u").cast("double"), 4)
          .as("jaccard_est"),
        Exact.rRow(Exact.rRow(col("n_both") / col("n_u").cast("double"), 4) *
          col("est_union"), 2).as("est_intersection"))
  }

  // ------------------------------ HyperLogLog ---------------------------

  /** 60-bit uniform hash from the md5 prefix (15 hex chars — fits a
   * signed long exactly, computable identically in both engines). */
  def md5Hash60(v: Column): Column =
    conv(substring(md5(v.cast("binary")), 1, 15), 16, 10).cast("long")

  /** α₆₄ (Flajolet et al. 2007, HyperLogLog, Table 1 / §4). */
  private val Alpha64 = 0.709

  /**
   * HyperLogLog distinct estimate per group, b index bits (m = 2^b
   * registers, default 64). Registers are a RELATIONAL (group, idx) max:
   * that relation is the sketch — m rows per group, mergeable by
   * construction (a distributed HLL union IS this same groupBy-max), and
   * the map-side partial aggregation ships at most m rows per group per
   * partition. ρ (position of the first 1-bit of the non-index bits) is
   * computed through the binary-STRING length, not floating log₂, so
   * Spark and an independent SQL engine agree bit-for-bit; the estimate
   * applies the standard small-range linear-counting correction and
   * rounds to 2 dp (sub-ulp pow/ln differences collapse, the repo's
   * rounded-float convention).
   */
  def hllDistinct(df: DataFrame, group: Column, valueHash60: Column,
      b: Int = 6): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, group, valueHash60, b), b)

  /** The HLL register relation: (source, idx, r) with r = max ρ seen for
   * that register. This IS the sketch — mergeable by the same groupBy-max
   * (a streaming Complete-mode aggregation over it converges to the batch
   * registers, checked by StreamingSpec "hll-registers"), m rows per
   * group. */
  def hllRegisters(df: DataFrame, group: Column, valueHash60: Column,
      b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 16, s"HLL needs 4 <= b <= 16, got $b")
    val remBits = 60 - b
    // bit ops, not `/`: Spark's Divide is DOUBLE division, which loses
    // exactness above 2^53 — a 60-bit hash would mis-bucket
    val idx = shiftright(valueHash60, remBits).cast("int")
    val rem = valueHash60.bitwiseAND(lit((1L << remBits) - 1))
    val rho = when(rem === 0, lit(remBits + 1))
      .otherwise(lit(remBits + 1) - length(bin(rem)))
    df.select(group.cast("string").as("source"), idx.as("idx"), rho.as("rho"))
      .groupBy(col("source"), col("idx")).agg(max(col("rho")).as("r"))
  }

  /** Estimate from a register relation — a pure function of the sketch.
   * The harmonic denominator Σ2^−r is summed as an EXACT scaled integer
   * (each register contributes 2^(K−r) with K = the max possible ρ, so
   * the sum is ≤ m·2^(K−1) ≤ 2⁶⁰ — exact in a long in any aggregation
   * order) and scaled back by one division by 2^K, a pure exponent
   * shift with no rounding; a float SUM of pow(2,−r) terms wider than
   * the 52-bit mantissa is order-dependent across partial aggregation
   * (the p54/p79 class). */
  def hllEstimateFromRegisters(regs: DataFrame, b: Int = 6): DataFrame = {
    val m = 1 << b
    val maxRho = 61 - b // remBits + 1 (see hllRegisters)
    regs.groupBy(col("source"))
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $maxRho - r)"))
        .as("_inv_e"),
        count(lit(1)).as("_present"))
      .withColumn("_inv",
        col("_inv_e").cast("double") / lit(math.pow(2.0, maxRho)))
      // absent registers hold 0 → each contributes 2^0 = 1 to the
      // denominator; zeros also drive the linear-counting branch
      .withColumn("_zeros", lit(m) - col("_present"))
      .withColumn("_raw",
        lit(Alpha64 * m * m) / (col("_inv") + col("_zeros")))
      .withColumn("est_distinct", Exact.rRow(
        when(col("_raw") <= lit(2.5 * m) && col("_zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("_zeros")))
          .otherwise(col("_raw")), 2))
      .select(col("source"), col("est_distinct"),
        col("_zeros").cast("int").as("zero_registers"))
  }

  // ---------------------------- Count-Min sketch ------------------------

  /** Salted 32-bit row hash for CM row `i`: md5 of "<value>#<i>". */
  private def cmsHash(v: Column, i: Int): Column =
    conv(substring(md5(concat(v.cast("string"), lit(s"#$i")).cast("binary")),
      1, 8), 16, 10).cast("long")

  /**
   * Count-Min sketch counters (Cormode & Muthukrishnan 2005): d salted
   * hash rows × w counters, built with ONE explode-by-d + hash aggregate
   * over the items — the counter table is a fixed d·w rows regardless of
   * input size (the 100 TB shape: mergeable by +, broadcastable for
   * lookups). Returns (row_i, slot, cnt).
   */
  def cmsCounters(df: DataFrame, item: Column, d: Int, w: Int): DataFrame = {
    require(d >= 1 && d <= 8 && w >= 2, s"CM needs 1<=d<=8, w>=2; got d=$d w=$w")
    val rows = explode(array((0 until d).map { i =>
      struct(lit(i).as("row_i"), (cmsHash(item, i) % w).cast("int").as("slot"))
    }: _*))
    df.select(rows.as("rs"))
      .select(col("rs.row_i").as("row_i"), col("rs.slot").as("slot"))
      .groupBy(col("row_i"), col("slot")).agg(count(lit(1)).as("cnt"))
  }

  /**
   * Count-Min point estimates for a set of candidate items: est(x) =
   * min over rows of counter[i][h_i(x)] — always ≥ the true count, the
   * overcount being hash-collision mass. The counter table broadcasts
   * (d·w rows); candidates never shuffle more than once.
   */
  def cmsEstimates(counters: DataFrame, candidates: DataFrame,
      item: Column, d: Int, w: Int): DataFrame = {
    val keyed = candidates.select(item.cast("string").as("item"))
      .distinct()
      .select(col("item"), explode(array((0 until d).map { i =>
        struct(lit(i).as("row_i"), (cmsHash(col("item"), i) % w).cast("int").as("slot"))
      }: _*)).as("rs"))
      .select(col("item"), col("rs.row_i").as("row_i"), col("rs.slot").as("slot"))
    keyed.join(broadcast(counters), Seq("row_i", "slot"))
      .groupBy(col("item"))
      .agg(min(col("cnt")).as("est_count"))
  }

  // ------------------------------ Bloom filter --------------------------

  /** The k Kirsch–Mitzenmacher positions h1 + j·h2 (mod m) as an
   * exploded (j, pos) struct array. h1/h2 are independent md5-prefix
   * 32-bit hashes, so an external SQL engine reproduces every position
   * exactly. */
  private def bloomPositions(value: Column, mBits: Int, k: Int): Column = {
    val h1 = conv(substring(md5(value.cast("binary")), 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(md5(value.cast("binary")), 9, 8), 16, 10).cast("long")
    explode(array((0 until k).map { j =>
      ((h1 + lit(j.toLong) * h2) % mBits).as(s"p$j")
    }: _*))
  }

  /**
   * Bloom-filter bit relation (Bloom 1970; positions via the
   * Kirsch–Mitzenmacher double-hashing scheme, 2006): per group, m bits
   * packed 32 per word as (source, widx, bits) — 32-bit words in a LONG
   * so every mask stays positive and sign semantics can never diverge
   * between engines. The relation IS the filter: built with one
   * explode-by-k + bit_or hash aggregate (map-side partials ship at most
   * m/32 rows per group per partition), merged across corpora by the
   * same groupBy-bit_or, and small enough to broadcast for probing
   * (m=16384 → 512 rows/group). The 100 TB role: a membership gate
   * that replaces a full anti-join against a seen-set (URL dedup,
   * incremental-crawl "have I ingested this fingerprint").
   */
  def bloomBits(df: DataFrame, group: Column, value: Column,
      mBits: Int, k: Int): DataFrame = {
    require(mBits % 32 == 0 && mBits >= 64, s"mBits must be a multiple of 32, got $mBits")
    require(k >= 1 && k <= 8, s"Bloom needs 1 <= k <= 8, got $k")
    df.select(group.cast("string").as("source"),
        bloomPositions(value, mBits, k).as("pos"))
      .select(col("source"), (col("pos") / 32).cast("int").as("widx"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
      .groupBy(col("source"), col("widx"))
      .agg(expr("bit_or(mask)").as("bits"))
  }

  /**
   * Probe a Bloom bit relation: for each (source, item) candidate, true
   * iff ALL k bits are set — never a false negative, false positives
   * bounded by the classic (1-e^{-kn/m})^k. The filter side broadcasts;
   * the probe stream shuffles once on (source, item) to regroup its k
   * bit lookups.
   */
  def bloomProbe(bits: DataFrame, probes: DataFrame, group: Column,
      value: Column, mBits: Int, k: Int): DataFrame = {
    val keyed = probes
      .select(group.cast("string").as("source"), value.as("item"))
      .distinct()
      .select(col("source"), col("item"),
        bloomPositions(col("item"), mBits, k).as("pos"))
      .select(col("source"), col("item"),
        (col("pos") / 32).cast("int").as("widx"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
    keyed.join(broadcast(bits), Seq("source", "widx"), "left")
      .withColumn("hit", coalesce(col("bits"), lit(0L))
        .bitwiseAND(col("mask")) =!= 0)
      .groupBy(col("source"), col("item"))
      .agg(min(col("hit")).as("bloom_positive"))
  }

  // ------------------------------ DDSketch ------------------------------

  /**
   * DDSketch bucket relation (Masson, Lee & Rim, VLDB 2019): a
   * relative-error quantile sketch. Positive values map to bucket
   * ⌈log_γ(x)⌉ with γ = (1+α)/(1−α); every value in bucket i lies within
   * α relative error of the bucket's midpoint estimate 2γ^i/(γ+1). The
   * (group, bucket, count) relation IS the sketch: bucket count is
   * O(log(max/min)/α) regardless of input size, it merges across
   * partitions/corpora by plain count addition (the groupBy is the
   * merge — a streaming Complete-mode count over the same keys converges
   * to it), and map-side partials ship at most the bucket count per
   * group. The 100 TB role: percentiles over any positive measure
   * (doc lengths, latencies, token counts) in one linear pass — the
   * guaranteed-relative-error alternative to [[CorpusOps.exactQuantiles]]'
   * order-statistic selection.
   *
   * Determinism: log_γ is ln(x) divided by a PRE-COMPUTED double ln(γ)
   * (the same literal on the engine and oracle sides), and the ratio is
   * rounded to 9 dp before ⌈·⌉ so sub-ulp ln() differences between
   * engines can never flip a bucket (repo rounded-float convention).
   * Non-positive / null values are excluded by contract (DDSketch's
   * domain is x > 0; callers route zeros to a separate counter).
   */
  def ddBuckets(df: DataFrame, group: Column, value: Column,
      alpha: Double = 0.01): DataFrame = {
    val lnGamma = lnGammaOf(alpha)
    df.filter(value.isNotNull && value > 0)
      .select(group.cast("string").as("source"),
        ceil(Exact.rRow(log(value.cast("double")) / lnGamma, 9)).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** ln γ for a given α, computed once so engine and oracle divide by the
   * identical double literal. */
  def lnGammaOf(alpha: Double): Double = {
    require(alpha > 0 && alpha < 1, s"DDSketch needs 0 < alpha < 1, got $alpha")
    math.log((1 + alpha) / (1 - alpha))
  }

  /** γ for a given α (the estimate-side constant, same both engines). */
  def gammaOf(alpha: Double): Double = (1 + alpha) / (1 - alpha)

  /**
   * Quantile estimates from a DDSketch bucket relation — a pure function
   * of the sketch. For each requested q: rank r = ⌊q·(n−1)⌋ (0-based,
   * the paper's convention); the answer bucket is the lowest whose
   * cumulative count exceeds r; the estimate is the bucket midpoint
   * 2γ^b/(γ+1), rounded to 4 dp so pow() sub-ulp differences collapse.
   * Window work is bucket-scale (hundreds of rows per group), never
   * data-scale.
   */
  def ddQuantiles(buckets: DataFrame, qs: Seq[Double],
      alpha: Double = 0.01): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), s"bad qs: $qs")
    val gamma = gammaOf(alpha)
    val byBucket = Window.partitionBy(col("source")).orderBy(col("bucket"))
    val cum = buckets
      .withColumn("cum", sum(col("n")).over(byBucket))
      .withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("source"))))
    val qdf = buckets.sparkSession.range(1)
      .select(explode(array(qs.map(lit(_)): _*)).as("q"))
    cum.crossJoin(broadcast(qdf))
      .filter(col("cum") > floor(col("q") * (col("total") - 1)))
      .groupBy(col("source"), col("q"))
      .agg(min(col("bucket")).as("bucket"), max(col("total")).as("n_values"))
      .withColumn("est",
        Exact.rRow(lit(2.0) * pow(lit(gamma), col("bucket")) / lit(gamma + 1), 4))
      .select(col("source"), col("q"), col("bucket"), col("est"),
        col("n_values"))
  }
}
