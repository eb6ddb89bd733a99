package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-rehearsal data generator: replicate a driver fixture dir `factor`×
 * with key-shifted copies (`key → key * factor + replica`), preserving
 * every intra-replica join (orders↔lineitem, customer↔orders, part/supp)
 * and the shared dimension tables (nation/region keep one copy, and FK
 * columns to them are NOT shifted). Used to validate the "linear shuffle"
 * scaling claims empirically — see PLAN_AUDIT.md — since the driver only
 * materializes sf ≤ 0.1.
 *
 * Usage: runMain graft.ScaleGen <srcDir> <outDir> <factor>
 */
object ScaleGen {

  /** Columns to shift per table; absent tables copy through unchanged. */
  private val shiftCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def replicate(df: DataFrame, cols: Seq[String], factor: Int): DataFrame =
    // one explode instead of a factor-way union: a single scan, and the
    // shifted key preserves each column's original integral type
    df.withColumn("_rep", explode(sequence(lit(0), lit(factor - 1))))
      .select(df.columns.map { c =>
        if (cols.contains(c)) (col(c) * factor + col("_rep")).cast(df.schema(c).dataType).as(c)
        else col(c)
      }: _*)

  /**
   * Documents get a deterministic 8%-of-tokens jitter on every replica
   * EXCEPT replica 0: byte-identical replicas are degenerate inputs for
   * the near-dup family — every 8-gram of a duplicated doc recurs
   * `factor` times, so at 100× each shingle trips the cross-doc
   * fingerprint occurrence cap (p124's fpCap = 64) and the measured
   * span set is EMPTY, leaving the islands/scrub stages unmeasured.
   *
   * The rate is derived from that cap, not guessed: with per-token
   * mutation probability q, an 8-gram survives a replica intact with
   * (1−q)⁸, so a base gram keeps ≈ 1+(factor−1)(1−q)⁸ identical
   * copies. A gentle q = 1% gives (0.99)⁸ ≈ 0.92 → ~92 copies at
   * 100× — STILL past the 64 cap, spans still empty. q = 8% gives
   * (0.92)⁸ ≈ 0.51 → ~52-copy clusters (under the cap, σ ≈ 5) —
   * strictly, the replacement char can equal the existing last char
   * with probability 1/26, so the EFFECTIVE rate is 8%·25/26 ≈ 7.7%
   * and copies land at ~53; the cap margin absorbs it — while
   * replica-vs-base 3-gram Jaccard stays ≈ 0.64 — above the
   * p109/p15 0.5 threshold — so every dedup stage (fingerprint spans,
   * scrub, Jaccard join, MinHash bands) sees realistic NEAR-duplicate
   * work instead of either degenerate extreme (all-identical → capped
   * out; too-mutated → no pairs at all).
   *
   * The mutation (seeded by the pre-shift doc id, replica, and
   * position — murmur3, so re-runs are stable) swaps the token's last
   * char (length-preserving, so the fixture's doc-length metadata
   * stays consistent); replica 0 is untouched, so base-corpus query
   * results keep their meaning.
   */
  private def replicateDocuments(df: DataFrame, factor: Int): DataFrame = {
    val mutated = transform(split(col("text"), " "), (t, i) => {
      val h = hash(col("doc_id"), col("_rep"), i)
      when(col("_rep") > 0 && pmod(h, lit(100)) < 8 && length(t) > 0,
        concat(t.substr(lit(1), length(t) - 1),
          chr(lit(97) + pmod(h, lit(26))))).otherwise(t)
    })
    df.withColumn("_rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("text", array_join(mutated, " "))
      .select(df.columns.map { c =>
        if (c == "doc_id")
          (col(c) * factor + col("_rep")).cast(df.schema(c).dataType).as(c)
        else col(c)
      }: _*)
  }

  /**
   * `distinct` document mode (docMode arg, r18): replicas that are NOT
   * near-duplicates of each other, for honest prefix-join walls.
   *
   * The default (`family`) mode's positional jitter keeps every replica
   * of a base doc a NEAR-DUP of every other replica (cross-replica
   * 3-gram Jaccard ≈ 0.64 > the p109 0.5 / p134-containment 0.78 > 0.7
   * thresholds), so duplicate-family SIZE grows ∝ factor and qualifying
   * pairs grow ∝ replicas² — a fixture artifact no real corpus has (a
   * 100 TB document has O(1) near-dups, not 1000). This mode instead
   * applies a per-replica token-substitution CIPHER to EVERY token,
   * keyed by token CONTENT and replica (hash(token, rep), last-char
   * swap, length-preserving; replica 0 untouched):
   *
   *  - WITHIN a replica, equal tokens map equally, so shingle-set
   *    equality structure — exact dups, quote⊂page containment, sibling
   *    near-dups, the per-replica df distribution — is preserved up to
   *    a 1/26 same-suffix TOKEN-MERGE collision (two distinct tokens
   *    ciphering to the same string can nudge a borderline pair across
   *    a threshold): family count × factor, family size unchanged in
   *    expectation. Measured, the drift is nil on this fixture —
   *    verified pairs are EXACTLY base × factor at 10× and 100×
   *    (256 → 2,560 → 25,600 for both p109 and p134).
   *  - ACROSS replicas, a token string coincides only when the two
   *    swapped chars collide (≈ 1/26 per token, hash(t, r) independent
   *    of hash(t, r′); same odds vs replica 0's original last char), so
   *    a specific 3-gram string recurs in another replica w.p. ≈ 26⁻³ ≈
   *    6e-5: GLOBAL rare-shingle df ≈ base df · (1 + 6e-5·factor) —
   *    O(1) through 1000×, and cross-replica J/containment ≈ 0 — no
   *    cross-replica pair ever qualifies, so candidates and output
   *    scale near-LINEARLY in factor. (The first, rate-25% draft of
   *    this mode left 0.42 of shingles per replica EQUAL TO BASE, so
   *    the base string's df grew ∝ 0.42·factor and candidate work went
   *    quadratic again — measured as a 59 GB runaway shuffle at 100×.
   *    Rate 100% is the only point where df is genuinely flat.)
   *  - Edge, disclosed: single-char tokens cipher to chr(97..122), so
   *    a 26-letter alphabet collision is the floor for 1-char-token
   *    grams; the fixture's tokens are words, not chars.
   */
  private def replicateDocumentsDistinct(df: DataFrame, factor: Int): DataFrame = {
    val mutated = transform(split(col("text"), " "), t => {
      val h = hash(t, col("_rep"))
      when(col("_rep") > 0 && length(t) > 0,
        concat(t.substr(lit(1), length(t) - 1),
          chr(lit(97) + pmod(h, lit(26))))).otherwise(t)
    })
    df.withColumn("_rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("text", array_join(mutated, " "))
      .select(df.columns.map { c =>
        if (c == "doc_id")
          (col(c) * factor + col("_rep")).cast(df.schema(c).dataType).as(c)
        else col(c)
      }: _*)
  }

  /**
   * Embeddings get a CENTROID-AWARE id map instead of the interleave
   * shift: the ANN family derives centroids by `vec_id % 50 == 0`, and
   * `vec_id*factor + rep` keeps that residue density in every replica,
   * so the centroid count grew ∝ N — quadratic assignment work that
   * poisoned every ANN rehearsal row (the p120 "centroid-count replica
   * artifact"). Production scales nlist ≈ √N, so the rehearsal should
   * too: the first round(√factor) replicas keep their centroids (offset
   * by a 50-aligned block, preserving residues), and every other
   * replica maps ids injectively into residues 1..49 mod 50
   * (x = 49q + s → 50q + s + 1) so it contributes NO centroids. Net:
   * corpus ×factor, centroids ×√factor — cell size and pair work grow
   * exactly as the ~N^1.5 claims assume. Replica 0 is unshifted, so
   * fixed query sets (`vec_id < q`) keep their base size.
   */
  /** Public (not just main's plumbing): PlantedSpec re-derives the 10×
   * replica corpus through THIS mapping so the planted zero-flip /
   * recall properties are pinned at a second scale — a scale-dependent
   * assignment bug (plantedPattern overflow, centroid mapping) fails a
   * named property instead of a driver-gate hash. */
  def replicateEmbeddings(df: DataFrame, factor: Int): DataFrame = {
    val maxId = df.agg(max(col("vec_id"))).head.getLong(0)
    val mappedMax = 50L * (maxId / 49) + (maxId % 49) + 1
    val block = (mappedMax / 50 + 2) * 50 // 50-aligned, > any mapped id
    val keepReps = math.max(1L, math.round(math.sqrt(factor.toDouble)))
    val bumped = expr("50 * (vec_id div 49) + (vec_id % 49) + 1")
    df.withColumn("_rep", explode(sequence(lit(0), lit(factor - 1))))
      .select(df.columns.map { c =>
        if (c == "vec_id")
          when(col("_rep") < keepReps, lit(block) * col("_rep") + col(c))
            .otherwise(lit(block) * col("_rep") + bumped)
            .cast(df.schema(c).dataType).as(c)
        else col(c)
      }: _*)
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, f) = args.take(3)
    val factor = f.toInt
    // optional 4th arg: documents mode — "family" (default: replicas are
    // near-dups of each other, the dedup-family stress shape) or
    // "distinct" (replicas mutually distinct, rare-shingle df O(1), the
    // honest prefix-join scaling shape)
    val docMode = args.lift(3).getOrElse("family")
    require(docMode == "family" || docMode == "distinct",
      s"docMode must be family|distinct, got $docMode")
    val spark = GraftSession.local(GraftSession.cpus)
    tables.foreach { t =>
      val in = spark.read.parquet(s"$src/$t.parquet")
      val outDf =
        if (t == "embeddings") replicateEmbeddings(in, factor)
        else if (t == "documents" && docMode == "distinct")
          replicateDocumentsDistinct(in, factor)
        else if (t == "documents") replicateDocuments(in, factor)
        else shiftCols.get(t) match {
          case Some(cols) => replicate(in, cols, factor)
          case None => in
        }
      outDf.write.mode("overwrite").parquet(s"$out/$t.parquet")
      // count the WRITTEN files (footer metadata), not the derivation —
      // re-running the explode pipeline just for a log line doubles the cost
      println(s"[scalegen] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
