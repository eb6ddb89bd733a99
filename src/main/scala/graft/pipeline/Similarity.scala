package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`array<float>`): brute-force cosine as the exact baseline, and a
 * sign-bit LSH (IVF-style coarse quantizer) as the scale path that probes
 * one bucket instead of the whole corpus.
 */
object Similarity {

  /** Cosine similarity of two float vectors, computed in double with a
   * left-to-right fold (deterministic, oracle-reproducible). One codegen'd
   * kernel call per row ([[graft.functions.CosineSim]]) — the HOF
   * formulation (`aggregate`/`zip_with`) evaluates interpreted per element
   * and was the dominant cost of every ANN query at the 10× rehearsal. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /**
   * The e3 INTEGER-cosine pair kernel (the p123 discipline applied to
   * the cosine family): embeddings are quantized ONCE per vector via
   * [[Hnsw.q3Codes]] (floor(v·10³+0.5), exact longs) and their norm²
   * hoisted out of the pair join ([[graft.functions.GraftFunctions
   * .dotLong]] of codes with themselves), so a candidate pair costs one
   * 64-element integer multiply-add — vs the float kernel's 3-fold pass
   * that re-derived both norms per pair. The returned column is the
   * e3-scaled similarity as a LONG: floor(dot/√(na·nb)·10³ + 0.5).
   * Every step is exact or correctly-rounded IEEE on exact integer
   * inputs (double conversions exact below 2⁵³, one multiply, one
   * sqrt, one division, one floor), so an independent engine reproduces
   * it bit for bit — the repo's exact-integer oracle convention with
   * ONE final float expression instead of a float aggregate. Zero-norm
   * vectors (cosine-undefined — the float kernel yielded NaN, which
   * Spark casts to 0 but DuckDB refuses to cast) are made EXPLICIT:
   * the pair similarity is NULL, in both engines, so the undefined
   * case can never silently diverge. Threshold tests compare the long
   * against round(t·10³) — pure integer predicates (NULL ≥ t is NULL
   * → the pair never qualifies, matching the oracle's NULL
   * semantics).
   */
  def simE3(dot: Column, na: Column, nb: Column): Column =
    when(na === 0L || nb === 0L, lit(null).cast("long"))
      .otherwise(floor(dot.cast("double")
        / sqrt(na.cast("double") * nb.cast("double"))
        * 1000 + 0.5).cast("long"))

  /** The quantize-once projection feeding [[simE3]]: `codes` (e3 long
   * array) and `nsq` (integer norm²) appended to `df`. Callers MUST
   * materialize the result (cache/localCheckpoint) before a self-join —
   * the interpreted transform() HOF otherwise gets inlined by
   * projection collapse into the join output and recomputed PER PAIR
   * (the round-10 lesson). */
  def withQ3(df: DataFrame): DataFrame = {
    val coded = df.withColumn("codes", Hnsw.q3Codes(col("embedding")))
    coded.withColumn("nsq",
      graft.functions.GraftFunctions.dotLong(col("codes"), col("codes")))
  }

  /** Corpus-scaled sign-LSH width: the smallest `bits` in [8, 16] with
   * expected bucket density N/2^bits ≤ 8 — i.e. the first b satisfying
   * N ≤ 8·2^b. Pure INTEGER threshold comparisons (no log2 — a float
   * log at a power-of-two boundary could round differently between
   * engines), so an oracle reproduces the width from its own count(*).
   * Fixed 256 buckets gave quadratic in-bucket pair growth (the
   * declared p17 knob: 54× wall at the 100× rehearsal); with the rule,
   * density stays ≤ 8 until the 2^16 cap (N = 524k — past that,
   * [[scaledPlanes]] switches to seeded random hyperplanes, whose
   * width is not bounded by the embedding dimensionality). */
  def scaledBits(n: Long): Int =
    (8 to 16).find(b => n <= (8L << b)).getOrElse(16)

  /** Corpus-scaled sign-LSH configuration: (bits, use hyperplanes?).
   * Up to N = 8·2¹⁶ the [[scaledBits]] axis rule applies — the regime
   * every driver-gate / bench / rehearsal corpus lives in, and the one
   * the p17 SQL oracle mirrors. Past it, axis planes run out (only
   * `dim` of them exist, and each bit is exactly as skewed as its
   * coordinate's sign distribution), so the rule opens the
   * seeded-random-hyperplane widths [17, 24] under the same
   * density-≤-8 invariant — enough through N = 8·2²⁴ ≈ 134M vectors.
   * Past THAT the rule REFUSES (hard input bound, not a silent cap:
   * returning 24 bits at 1B vectors would quietly re-open the
   * quadratic in-bucket growth the rule exists to kill — raise the
   * range deliberately when the corpus gets there; the construction
   * itself has no width limit). The hyperplane regime is engine-only
   * and spec-pinned by a driver replay (PipelineSpec) — a gate-scale
   * DuckDB oracle can never reach N > 524k. */
  def scaledPlanes(n: Long): (Int, Boolean) =
    if (n <= (8L << 16)) (scaledBits(n), false)
    else {
      require(n <= (8L << 24),
        s"corpus of $n vectors exceeds the 24-bit sign-LSH width bound " +
          "(density N/2^bits would pass 8) — raise scaledPlanes' range")
      ((17 to 24).find(b => n <= (8L << b)).get, true)
    }

  /** Deterministic ±1 coefficient of seeded hyperplane `bit` at
   * dimension `d`: a fixed-seed Knuth multiplicative mix whose 17th
   * bit decides the sign. Pure integer arithmetic — any replay (spec,
   * future SQL oracle generator) re-derives the planes from this
   * formula, no RNG state to ship. */
  def planeCoef(bit: Int, d: Int): Int =
    graft.functions.VectorMath.planeCoef(bit, d) // ONE formula source

  /** Sign-LSH bucket from `bits` seeded random hyperplanes over ALL
   * `dim` dimensions of an ALREADY-QUANTIZED e3 code array (the
   * [[withQ3]] quantize-once invariant — the bucket shares the codes
   * the pair kernel consumes, never re-quantizing) — the documented
   * escape past [[signBucket]]'s axis-plane form (random hyperplanes
   * keep bits near-balanced at any width; Charikar 2002's construction
   * proper, axis planes being its degenerate specialization). Each
   * plane's dot product is EXACT integer: e3 code times a ±1 literal
   * coefficient, summed as longs in fixed order — engine-portable by
   * the house convention even though only the spec replays this regime
   * today. All bits·dim terms are literal-unrolled codegen'd long
   * adds. A code array SHORTER than `dim` yields a NULL bucket — the
   * vector drops out of the bucket equi-join (no pairs), mirroring the
   * family's cosine-undefined NULL contract, instead of every
   * malformed row silently collapsing into bucket 0 and re-creating
   * the hot-bucket quadratic blowup.
   *
   * Implementation (r21): ONE codegen'd kernel call per row
   * ([[graft.functions.VectorMath.signBucketPlanes]], same contract —
   * short array → NULL, null element → bucket 0) instead of the
   * bits·dim literal-unrolled Column tree. The unrolled form was 1088
   * Catalyst nodes at the 17-bit width: its whole-stage-codegen method
   * blew janino's limits (observed compile ERROR + interpreted
   * fallback), and in interpreted mode projection collapse re-evaluated
   * the upstream q3 transform() HOF once per TERM — the round-10
   * inlining class, ×1088. PipelineSpec's independent driver replay
   * (coef formula + exact long sums) pins the kernel to the published
   * construction; the p138 oracle unrolls the same planeCoef literals. */
  def signBucketHyperplanes(codes: Column, bits: Int, dim: Int): Column =
    graft.functions.GraftFunctions.signBucketPlanes(codes, bits, dim)

  /** Sign-bit coarse bucket over the first `bits` dimensions — a random-
   * hyperplane LSH specialization (hyperplanes = axis planes), giving 2^bits
   * buckets. */
  def signBucket(v: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      when(element_at(v, i + 1) >= 0f, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All (query, corpus) pairs above a cosine threshold — brute force,
   * one broadcast of the (small) query side, single pass over the
   * corpus. The pair similarity is the e3 INTEGER kernel ([[simE3]] over
   * [[withQ3]] codes with hoisted norm²) and the threshold test a pure
   * integer predicate — one codegen'd multiply-add per pair instead of
   * the float kernel's 3-fold pass, cosine-undefined (zero-norm) pairs
   * NULL out identically in both engines, and the reported `sim` is the
   * family's ONE final IEEE division. The corpus-side quantize-once
   * projection is materialized so projection collapse cannot inline the
   * interpreted q3 HOF per PAIR. */
  def thresholdJoin(queries: DataFrame, corpus: DataFrame, threshold: Double): DataFrame = {
    val thrE3 = math.round(threshold * 1000)
    val qq = withQ3(queries).select(col("vec_id").as("query_id"),
      col("codes").as("qcodes"), col("nsq").as("qnsq"))
    val cq = graft.CacheScope.track(
      withQ3(corpus).select(col("vec_id"), col("codes"), col("nsq")))
    cq.join(broadcast(qq), col("query_id") =!= col("vec_id"))
      .withColumn("sim_e3", simE3(
        graft.functions.GraftFunctions.dotLong(col("qcodes"), col("codes")),
        col("qnsq"), col("nsq")))
      .filter(col("sim_e3") >= thrE3)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("sim_e3").cast("double") / 1000).as("sim"))
  }

  /** Brute-force cosine top-k per query: one broadcast pass scoring with
   * the e3 INTEGER kernel, then the k-bounded [[graft.functions
   * .MinKPairs]] aggregate on (−sim_e3, id) — map-side partial top-k, ≤k
   * pairs shuffled per query per map task where a window would
   * shuffle-and-sort the whole scored relation. Ranking (sim DESC, id
   * ASC) rides exact integers, so ties resolve identically in any
   * engine; cosine-undefined pairs are filtered explicitly on both
   * sides. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val qq = withQ3(queries).select(col("vec_id").as("query_id"),
      col("codes").as("qcodes"), col("nsq").as("qnsq"))
    val cq = graft.CacheScope.track(
      withQ3(corpus).select(col("vec_id"), col("codes"), col("nsq")))
    cq.join(broadcast(qq), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), simE3(
        graft.functions.GraftFunctions.dotLong(col("qcodes"), col("codes")),
        col("qnsq"), col("nsq")).as("sim_e3"))
      .filter(col("sim_e3").isNotNull)
      .groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.minKPairs(
        struct((-col("sim_e3")).as("dist"), col("vec_id").as("dst")), k)
        .as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("rank", "p")))
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("p.dst").as("neighbor_id"),
        ((-col("p.dist")).cast("double") / 1000).as("sim"))
  }

  /** Quantize-once centroid projection feeding the integer-affinity
   * quantizers ([[ivfAssign]]/[[ivfProbes]]): `ccodes` (e3 long array)
   * and `cnsq` (integer norm²) appended — centroid-scale, evaluated once
   * inside the broadcast build, so the interpreted transform() HOF never
   * multiplies against the corpus side. */
  private def centQ3(centroids: DataFrame): DataFrame =
    centroids
      .withColumn("ccodes", Hnsw.q3Codes(col("cembedding")))
      .withColumn("cnsq",
        graft.functions.GraftFunctions.dotLong(col("ccodes"), col("ccodes")))

  /** IVF coarse quantizer: assign every vector to its nearest centroid —
   * highest INTEGER e3 cosine ([[simE3]]), ties to the lowest centroid
   * id. The [[Hnsw.assignCells]] discipline applied to the cosine
   * metric: both sides quantize ONCE ([[withQ3]]/[[centQ3]]) with norm²
   * hoisted out of the cross join, so each of the |corpus|×|centroids|
   * affinities costs one codegen'd 64-element integer multiply-add —
   * not the float kernel's 3-fold pass — and the whole ranking rides
   * exact integers any engine reproduces bit for bit. One broadcast
   * map-side pass, no shuffle of the corpus. A cosine-undefined
   * (zero-norm) vector has every affinity NULL and assigns to the
   * LOWEST centroid id (NULL coalesces below any real affinity) —
   * explicit and engine-portable, where the float kernel's NaN ordering
   * was Spark-specific. Output carries the quantize-once projection
   * (`codes`, `nsq`) alongside (vec_id, cluster, embedding) so
   * downstream pair stages ([[knnGraph]], [[semanticDedup]],
   * [[hardNegatives]], [[marginMining]]…) reuse it without
   * re-quantizing. */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    // cached: q3Codes is an interpreted HOF — without the materialization
    // projection collapse inlines it into the centroid cross join and
    // re-quantizes every vector once PER CENTROID (the round-10 lesson)
    val vq = graft.CacheScope.track(withQ3(vecs))
    vq.crossJoin(broadcast(centQ3(centroids)
        .select(col("centroid_id"), col("ccodes"), col("cnsq"))))
      .withColumn("_aff", simE3(
        graft.functions.GraftFunctions.dotLong(col("codes"), col("ccodes")),
        col("nsq"), col("cnsq")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"),
          struct(coalesce(col("_aff"), lit(Long.MinValue)), -col("centroid_id")))
        .as("cluster"),
        first(col("embedding")).as("embedding"),
        first(col("codes")).as("codes"),
        first(col("nsq")).as("nsq"))
  }

  /**
   * Cluster-local kNN graph — the "build the neighbor graph" stage that
   * graph-based clustering and dedup (and diversity filtering à la
   * SemDeDup's pruning) consume: every vector's top-k neighbors among
   * its IVF cell mates, ranked by cosine.
   *
   * Shape at 100 TB: assignment is the broadcast map-side pass of
   * [[ivfAssign]] (no corpus shuffle); the self-join shuffles the corpus
   * once on the cell id; with nlist ≈ √N the within-cell pair work is
   * ~N^1.5 ≪ N² (p28's analysis); the per-vector top-k is the k-bounded
   * [[graft.functions.MinKPairs]] aggregate — map-side partial top-k, so
   * each task ships at most k pairs per vector, where a rank window
   * would shuffle AND sort the whole ~N^1.5 pair relation (recorded:
   * 158.6 s fresh-JVM isolated at the 100× rehearsal — the PLAN_AUDIT
   * round-14 row; the cost is the pair kernel itself, shared with
   * p28's class). Pairs ride the e3
   * INTEGER-cosine kernel ([[simE3]] on the assignment's quantize-once
   * codes — one integer multiply-add per pair); ordering is
   * (dist = −sim_e3, neighbor_id) ascending ≡ (sim desc, id asc), the
   * exact-integer ranking convention; a cosine-undefined (zero-norm)
   * pair is NULL and excluded before the aggregate in BOTH engines.
   */
  def knnGraph(vecs: DataFrame, centroids: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val asg = graft.CacheScope.track(ivfAssign(vecs, centroids)
      .select(col("vec_id"), col("cluster"), col("codes"), col("nsq")))
    asg.as("a")
      .join(asg.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.cluster").as("cluster"),
        col("b.vec_id").as("neighbor_id"),
        simE3(graft.functions.GraftFunctions.dotLong(col("a.codes"), col("b.codes")),
          col("a.nsq"), col("b.nsq")).as("sim_e3"))
      .filter(col("sim_e3").isNotNull)
      .groupBy(col("vec_id"))
      .agg(first(col("cluster")).as("cluster"),
        graft.functions.GraftFunctions.minKPairs(
          struct((-col("sim_e3")).as("dist"), col("neighbor_id").as("dst")), k)
          .as("topk"))
      .select(col("vec_id"), col("cluster"),
        posexplode(col("topk")).as(Seq("p0", "pair")))
      .select(col("vec_id"), (col("p0") + 1).cast("long").as("rank"),
        col("pair.dst").as("neighbor_id"), col("cluster"),
        ((-col("pair.dist")).cast("double") / 1000).as("sim"))
  }

  /**
   * Mutual-kNN graph clustering: keep only RECIPROCATED neighbor edges
   * (a in b's top-k AND b in a's top-k, cosine ≥ `minSim`), then label
   * connected components — the graph-clustering stage diversity-aware
   * curation builds on the neighbor graph (mutuality is the classic
   * noise gate: a hub vector that merely appears in many lists does not
   * glue unrelated regions together).
   *
   * Shape at 100 TB: the kNN graph is [[knnGraph]]'s one corpus shuffle;
   * the mutuality check is a self-join of the N·k edge list on the
   * (vec, neighbor) pair key — edge-scale, not corpus-scale; components
   * run on the (much smaller) mutual edge list via [[DedupOps.dupLabels]]
   * (measured-size union-find fast path, superstep escape above it).
   * Singletons stay their own component via the left join back to vecs.
   */
  /** The reciprocated-edge relation (a, b) with a < b that
   * [[mutualKnnComponents]] clusters and [[GraphOps.pageRank]] ranks:
   * a in b's top-k AND b in a's top-k at cosine ≥ `minSim`. */
  def mutualKnnEdges(vecs: DataFrame, centroids: DataFrame, k: Int,
      minSim: Double): DataFrame = {
    val g = knnGraph(vecs, centroids, k).filter(col("sim") >= minSim)
    g.as("x").join(g.as("y"),
        col("x.vec_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.vec_id"))
      .filter(col("x.vec_id") < col("x.neighbor_id"))
      .select(col("x.vec_id").as("a"), col("x.neighbor_id").as("b"))
  }

  def mutualKnnComponents(vecs: DataFrame, centroids: DataFrame, k: Int,
      minSim: Double): DataFrame =
    componentsFromEdges(vecs, mutualKnnEdges(vecs, centroids, k, minSim))

  /** Component labeling over an already-derived (a, b) edge list —
   * callers that share the edge relation across queries (p63/p83) pass
   * the memoized edges instead of re-deriving the kNN graph. */
  def componentsFromEdges(vecs: DataFrame, edges: DataFrame): DataFrame = {
    val labels = graft.pipeline.DedupOps.dupLabels(edges, "a", "b")
      .select(col("node").as("vec_id"), col("label"))
    vecs.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("component"))
  }

  /**
   * kNN label-purity audit (deep-kNN label-noise detection, à la
   * Confident Learning / cleanlab's kNN filter): for every labeled
   * vector, how many of its cell-local k nearest neighbors share its
   * label, what the neighborhood majority is, and whether the point is
   * SUSPECT (majority disagrees, or agreement below `minFrac`) — the
   * label-quality gate a curation pipeline runs before training on
   * labeled data.
   *
   * Shape at 100 TB: two key-partitioned joins of the N·k edge list
   * against the (vec_id, label) relation — linear, no corpus self-join
   * beyond [[knnGraph]]'s cell-bounded one; the majority vote is a
   * two-level hash agg on (vec, label) then (vec). Majority ties break
   * to the SMALLEST label (max_by on (count, -label)) so both engines
   * agree deterministically.
   */
  def knnLabelPurity(vecs: DataFrame, centroids: DataFrame, k: Int,
      minFrac: Double): DataFrame = {
    val g = knnGraph(vecs, centroids, k)
    val lbl = vecs.select(col("vec_id"), col("label"))
    // corpus-scale label relation — merge-hinted (the round-15
    // static-broadcast-misestimate class)
    val perLabel = g
      .join(lbl.select(col("vec_id").as("neighbor_id"),
        col("label").as("nbr_label")).hint("merge"), Seq("neighbor_id"))
      .groupBy(col("vec_id"), col("nbr_label"))
      .agg(count(lit(1)).as("n"))
    val voted = perLabel.groupBy(col("vec_id"))
      .agg(sum(col("n")).as("k_eff"),
        max_by(col("nbr_label"),
          struct(col("n"), -col("nbr_label"))).as("majority_label"))
    lbl.join(voted.hint("merge"), Seq("vec_id"))
      .join(perLabel.withColumnRenamed("nbr_label", "label")
        .withColumnRenamed("n", "same_n").hint("merge"),
        Seq("vec_id", "label"), "left")
      .select(col("vec_id"), col("label"), col("k_eff"),
        coalesce(col("same_n"), lit(0L)).as("same_n"),
        col("majority_label"))
      // e4 round-half-up in pure integers — (2·num·10⁴ + den) div (2·den),
      // the house convention (round() ties differ between engines) — then
      // ONE final IEEE division; the suspect test compares integers
      .withColumn("_sf_e4",
        expr("(2 * same_n * 10000 + k_eff) div (2 * k_eff)"))
      .withColumn("same_frac", col("_sf_e4").cast("double") / 10000)
      .withColumn("suspect",
        col("majority_label") =!= col("label") ||
          col("_sf_e4") < math.round(minFrac * 10000))
      .drop("_sf_e4")
  }

  /**
   * ANN hard-negative mining — the contrastive-training data-prep stage
   * (DPR, Karpukhin et al. 2020 §4.2: the best negatives are the
   * highest-scoring NON-matching candidates, not random ones). For each
   * labeled vector, the top-`k` most-similar cell-mates whose label
   * DIFFERS — i.e. [[knnGraph]]'s neighbor relation re-ranked after a
   * label-mismatch gate.
   *
   * Shape at 100 TB: identical to [[knnGraph]] (one corpus shuffle on
   * the IVF cell id, per-vector top-k via the k-bounded
   * [[graft.functions.MinKPairs]] aggregate — never a window over the
   * pair relation) plus one edge-scale join of the N·k selected
   * negatives against the (vec_id, label) relation to recover the
   * negative's label; the label-mismatch gate drops edges BEFORE the
   * aggregate, so its state is at most k pairs per vector.
   */
  def hardNegatives(vecs: DataFrame, centroids: DataFrame, k: Int)
      : DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    // ivfAssign keeps the quantize-once projection; fold the label back
    // in before the cell self-join so the mismatch gate prunes pre-agg
    val asg = graft.CacheScope.track(
      ivfAssign(vecs, centroids)
        .select(col("vec_id"), col("cluster"), col("codes"), col("nsq"))
        .join(vecs.select(col("vec_id"), col("label")).hint("merge"),
          Seq("vec_id")))
    val top = asg.as("a")
      .join(asg.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("neg_id"),
        simE3(graft.functions.GraftFunctions.dotLong(col("a.codes"), col("b.codes")),
          col("a.nsq"), col("b.nsq")).as("sim_e3"))
      .filter(col("sim_e3").isNotNull)
      .groupBy(col("vec_id"))
      .agg(first(col("label")).as("label"),
        graft.functions.GraftFunctions.minKPairs(
          struct((-col("sim_e3")).as("dist"), col("neg_id").as("dst")), k)
          .as("topk"))
      .select(col("vec_id"), col("label"),
        posexplode(col("topk")).as(Seq("p0", "pair")))
      .select(col("vec_id"), col("label"),
        (col("p0") + 1).cast("long").as("rank"),
        col("pair.dst").as("neg_id"),
        ((-col("pair.dist")).cast("double") / 1000).as("sim"))
    top.join(vecs.select(col("vec_id").as("neg_id"),
        col("label").as("neg_label")).hint("merge"), Seq("neg_id"))
      .select(col("vec_id"), col("label"), col("rank"), col("neg_id"),
        col("neg_label"), col("sim"))
  }

  /**
   * One Lloyd iteration of k-means (Lloyd 1982) — the training step that
   * produces the centroids the IVF quantizer (p14) and SemDeDup (p28)
   * consume. Assignment is [[ivfAssign]] (broadcast centroids, no corpus
   * shuffle); the update is ONE (cluster, dim) hash aggregate over the
   * pos-exploded corpus — linear, map-side partials, k·dim output rows.
   * Iterating = calling this with the previous step's `c_new` relation.
   * Exact-integer parity (the p54 convention): components quantize once
   * to e4 BIGINTs via floor(v·10⁴ + 0.5) — pure IEEE, engine-portable —
   * the cluster sum is INTEGER (partial-sum order can never move it),
   * and the mean is ONE final IEEE division by size·10⁴; c_old is the
   * same e4 quantization of the incoming centroid, one division. No
   * float aggregate, no round of a float sum.
   * Returns (cluster, pos, size, c_new, c_old).
   */
  def kmeansStep(vecs: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssign(vecs, centroids)
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("p0", "v")))
      .select(col("cluster"), (col("p0") + 1).cast("int").as("pos"),
        floor(col("v").cast("double") * 10000.0 + 0.5).cast("long").as("v_e4"))
      .groupBy(col("cluster"), col("pos"))
      .agg(count(lit(1)).as("size"), sum(col("v_e4")).as("s_e4"))
      .withColumn("c_new",
        col("s_e4").cast("double") / (col("size").cast("double") * 10000.0))
      .join(broadcast(centroids), col("cluster") === col("centroid_id"))
      .select(col("cluster"), col("pos"), col("size"), col("c_new"),
        (floor(element_at(col("cembedding"), col("pos")).cast("double") *
          10000.0 + 0.5).cast("double") / 10000.0).as("c_old"))

  /**
   * IVF index MAINTENANCE census — the append-without-retrain step a
   * production vector index runs between trainings: a new batch assigns
   * to the FROZEN centroids (one broadcast map-side pass, the ivfAssign
   * shape — the corpus never shuffles), and the census reports each
   * cell's base/new populations, growth in exact PPM, and a rebalance
   * flag — `needs_split` fires when a cell's growth rate exceeds twice
   * the corpus-wide rate, by integer cross-multiplication (n_new·Σbase
   * > 2·Σnew·n_base in DECIMAL(38,0) — no ratio ever rounds). When the
   * centroids come from the base (the usual training discipline) every
   * cell holds its own centroid, so n_base ≥ 1; with externally-trained
   * centroids a batch-only cell still gets its census row (FULL join,
   * n_base = 0, growth NULL) and its vectors still count in Σnew —
   * such a cell flags needs_split whenever it has any members, which is
   * the right rebalance signal for an orphan hot spot.
   */
  def ivfAppendCensus(base: DataFrame, batch: DataFrame,
      centroids: DataFrame): DataFrame = {
    val nb = ivfAssign(base, centroids)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_base"))
    val nn = ivfAssign(batch, centroids)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_new"))
    // track: the census fans into BOTH the totals aggregate and the
    // final projection — without it the two assignment passes run twice
    val cells = graft.CacheScope.track(nb.join(nn, Seq("cluster"), "full")
      .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L))))
    val tot = broadcast(cells.agg(sum(col("n_base")).as("t_base"),
      sum(col("n_new")).as("t_new")))
    cells.crossJoin(tot)
      .withColumn("growth_ppm",
        expr("CASE WHEN n_base > 0 THEN " +
          "(CAST(n_new AS DECIMAL(38,0)) * 1000000) div n_base END"))
      .withColumn("needs_split",
        expr("CAST(n_new AS DECIMAL(38,0)) * t_base > " +
          "2 * CAST(t_new AS DECIMAL(38,0)) * n_base"))
      .select(col("cluster"), col("n_base"), col("n_new"),
        col("growth_ppm"), col("needs_split"))
  }

  /**
   * Scalar (int8) embedding quantization with CORPUS-trained per-dim
   * calibration — the SQ8 compression every major ANN library ships
   * (FAISS ScalarQuantizer QT_8bit): dimension j's [min_j, max_j] over
   * the whole corpus maps each component to a code in [0, 255] via
   * floor((v−min)·255/(max−min) + 0.5), 4 bytes/dim → 1. Complements
   * [[pqQuantize]] (vector-split codebooks) and
   * [[CorpusOps.quantizeStats]] (per-ROW ranges): the per-DIM corpus
   * calibration is what production index builds train once per snapshot.
   *
   * Determinism: min/max are COMPARISON aggregates (exact on any
   * engine, no summation); the code and the reconstruction delta are
   * fixed-order IEEE expressions on exact inputs — bit-identical across
   * engines — and the per-vector reconstruction error e12-quantizes
   * each dim's δ² BEFORE the 64-way sum (the exact-integer convention).
   * A degenerate dim (max = min) codes to 0 with zero error.
   *
   * Shape at 100 TB: calibration is one pos-exploded min/max hash agg
   * (map-side partials, dim-bounded output) broadcast back; coding is
   * one explode + broadcast join + per-vector hash agg — the corpus
   * never shuffles on anything but its own id.
   */
  /** The shared SQ8 coding stage: per (vector, dim) the component, the
   * corpus calibration, and the int8 code — consumed by [[sq8Quantize]]
   * (compression + error) and [[sq8RecallAudit]] (retrieval cost). */
  def sq8Codes(vecs: DataFrame): DataFrame = {
    val exploded = vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "v")))
      .select(col("vec_id"), (col("p0") + 1).cast("int").as("dim"),
        col("v").cast("double").as("v"))
    val calib = broadcast(exploded.groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx")))
    exploded.join(calib, Seq("dim"))
      .withColumn("code",
        when(col("mx") > col("mn"),
          floor((col("v") - col("mn")) * 255.0 / (col("mx") - col("mn"))
            + 0.5).cast("int"))
          .otherwise(0))
  }

  def sq8Quantize(vecs: DataFrame): DataFrame = {
    sq8Codes(vecs)
      .withColumn("recon",
        col("mn") + col("code") * (col("mx") - col("mn")) / 255.0)
      .withColumn("d2_e12",
        floor((col("v") - col("recon")) * (col("v") - col("recon"))
          * 1000000000000.0 + 0.5).cast("long"))
      .groupBy(col("vec_id"))
      .agg(
        md5(concat_ws(",", transform(
          array_sort(collect_list(struct(col("dim"), col("code")))),
          s => s.getField("code").cast("string"))).cast("binary"))
          .as("codes_md5"),
        sum(col("d2_e12")).as("err_e12"),
        max(col("code")).as("max_code"))
  }

  /**
   * SQ8's retrieval cost, measured — the recall@k audit every index
   * build reports next to its compression ratio: for each query, the
   * top-k by EXACT squared L2 on the original vectors (the fixed-order
   * l2Sq kernel, the p35/p37-proven parity path) versus the top-k by
   * the INTEGER code-space distance Σ((Δcode·step_e6)²) with step_e6 =
   * floor((mx−mn)/255·10⁶ + 0.5) per dim — the dequantized L2 up to the
   * e6 step quantization, in pure DECIMAL(38,0) arithmetic, so the
   * approximate ranking itself is engine-independent. (A raw code dot
   * product would NOT work: affine-shifted all-positive codes rank by
   * magnitude, not direction — measured recall ~0 before this metric.)
   * Emits per query the overlap and recall in exact PPM; ties in either
   * ranking break on the neighbor id.
   *
   * Shape at 100 TB: the code distance is one dim-keyed join + (query,
   * cand) hash agg, bounded by |queries|·|corpus| like every
   * brute-force audit (p92's recall precedent) — production restricts
   * candidates by IVF cell first; the audit exists to measure the
   * quantizer, not to serve traffic.
   */
  def sq8RecallAudit(vecs: DataFrame, queryMax: Long, k: Int): DataFrame = {
    require(k > 0)
    val qv = vecs.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val exact = vecs.crossJoin(broadcast(qv))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dist",
        graft.functions.GraftFunctions.l2Sq(col("qemb"), col("embedding")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("dist"), col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    val codes = graft.CacheScope.track(sq8Codes(vecs)
      .withColumn("step_e6",
        floor((col("mx") - col("mn")) / 255.0 * 1000000.0 + 0.5)
          .cast("long"))
      .select(col("vec_id"), col("dim"), col("code"), col("step_e6")))
    val q = codes.select(col("vec_id").as("qid"), col("dim"),
      col("code").as("qcode")).filter(col("qid") < queryMax)
    val dists = codes.join(broadcast(q), Seq("dim"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dd",
        expr("CAST((qcode - code) * step_e6 AS DECIMAL(38,0))"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(expr("dd * dd")).as("dist2"))
    val codeTop = dists.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("dist2"), col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    // drive the output from the QUERY set (cheap, and oracle-faithful:
    // a query with zero candidates still reports recall 0), not from a
    // second instantiation of the brute-force subplan
    qv.select(col("qid").as("query_id"))
      .join(exact.join(codeTop, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits")),
        Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_ppm", expr(s"(n_hits * 1000000) div $k"))
  }

  /**
   * Johnson–Lindenstrauss random projection (Achlioptas 2003 — database-
   * friendly ±1 signs): reduce `dimIn` embeddings to `dimOut` via a
   * deterministic sign matrix, sign(i,j) = parity of an md5 bit for the
   * (i,j) cell — so any engine rebuilds the identical matrix and the
   * identical projection. Scaled by 1/√dimOut, which preserves expected
   * norms (the JL guarantee that makes downstream ANN distances honest).
   *
   * Shape: the sign matrix is dimIn×dimOut rows — a BROADCAST dimension
   * table, built once; the corpus pos-explodes (dimIn rows per vector),
   * joins the matrix on the input position, and re-aggregates per
   * (vector, output dim) — one linear explode + one hash aggregate with
   * map-side partials, no corpus shuffle wider than dimOut longs per
   * vector.
   *
   * Exact-integer parity (the q33/q37 convention): each component is
   * quantized once to 1e-4 via `floor(v·1e4 + 0.5)` — pure IEEE ops, so
   * any engine lands on the same BIGINT — then SUMMED AS INTEGERS
   * (order-independent across partitions, unlike a float sum) into
   * `proj_e4`; `proj` is one final IEEE division by √dimOut·1e4, which
   * is deterministic given identical integer operands. No float
   * aggregate ever reaches a rounding boundary.
   */
  def randomProjection(vecs: DataFrame, dimIn: Int, dimOut: Int): DataFrame = {
    require(dimOut >= 1 && dimIn >= dimOut, s"need 1 <= dimOut <= dimIn")
    val spark = vecs.sparkSession
    import spark.implicits._
    // sign(i, j): +1 iff the low bit of md5("i:j")'s first hex nibble is
    // set — one bit of an engine-portable uniform hash
    val signs = (for { i <- 1 to dimIn; j <- 1 to dimOut } yield (i, j))
      .toDF("pos", "j")
      .withColumn("sign",
        when(conv(substring(md5(concat_ws(":", col("pos"), col("j"))
          .cast("binary")), 1, 1), 16, 10).cast("int") % 2 === 1, 1L)
          .otherwise(-1L))
    // divide by √dimOut·1e4 (not multiply by a reciprocal): both engines
    // evaluate sqrt + product identically on these exact inputs
    val divisor = math.sqrt(dimOut.toDouble) * 10000.0
    vecs.select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "v")))
      .select(col("vec_id"), (col("p0") + 1).cast("int").as("pos"),
        floor(col("v").cast("double") * 10000.0 + 0.5).cast("long").as("v_e4"))
      .join(broadcast(signs), Seq("pos"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("v_e4") * col("sign")).as("proj_e4"))
      .withColumn("proj", col("proj_e4").cast("double") / divisor)
  }

  /** A query's `nprobe` nearest centroids by the same INTEGER e3
   * affinity as [[ivfAssign]] (rank 1 = nearest; an all-NULL
   * cosine-undefined query ranks by centroid id alone — the coalesce
   * mirrors the argmax; ties to the lower centroid id) — the probe list
   * of the IVF search, carrying the query's quantize-once projection
   * (`codes`, `nsq`) for downstream pair stages. */
  def ivfProbes(vecs: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    // cached for the same projection-collapse reason as ivfAssign
    val vq = graft.CacheScope.track(withQ3(vecs))
    vq.crossJoin(broadcast(centQ3(centroids)
        .select(col("centroid_id"), col("ccodes"), col("cnsq"))))
      .withColumn("_aff", simE3(
        graft.functions.GraftFunctions.dotLong(col("codes"), col("ccodes")),
        col("nsq"), col("cnsq")))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(coalesce(col("_aff"), lit(Long.MinValue)).desc,
            col("centroid_id"))))
      .filter(col("_rk") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("codes"), col("nsq"),
        col("centroid_id").as("cluster"))
  }

  /** IVF ANN: corpus vectors live in their nearest centroid's inverted
   * list; each query probes its `nprobe` nearest lists — touching
   * nprobe/|centroids| of the corpus instead of everything. Candidate
   * pairs ride the e3 integer-cosine kernel over both sides'
   * quantize-once codes ([[simE3]]); the threshold test is a pure
   * integer predicate (a NULL cosine-undefined pair never qualifies,
   * in both engines). The per-query probe window partitions on vec_id
   * (high cardinality). */
  def ivfAnn(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      threshold: Double, nprobe: Int = 1): DataFrame = {
    val thrE3 = math.round(threshold * 1000)
    val qa = ivfProbes(queries, centroids, nprobe)
      .select(col("vec_id"), col("codes"), col("nsq"), col("cluster"))
    val ca = ivfAssign(corpus, centroids)
    ca.as("c").join(broadcast(qa.as("q")),
        col("q.cluster") === col("c.cluster") && col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("sim_e3", simE3(
        graft.functions.GraftFunctions.dotLong(col("q.codes"), col("c.codes")),
        col("q.nsq"), col("c.nsq")))
      .filter(col("sim_e3") >= thrE3)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        col("c.cluster").as("cluster"),
        (col("sim_e3").cast("double") / 1000).as("sim"))
  }

  /**
   * Embedding-cosine NEAR-DUP pairs over the whole corpus — the
   * embedding-space member of the dedup family (exact / MinHash / SimHash
   * / cosine). Both sides are the corpus, so there is no broadcast side:
   * the self-join is a co-partitioned shuffle on the sign-LSH bucket, and
   * candidate generation is within-bucket only — never all-pairs. Each
   * unordered pair is emitted once (a < b). A pathological hot bucket
   * is the usual LSH skew story: raise `bits` or salt (Skew.saltedJoin);
   * AQE's skew-join split handles the moderate case.
   */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      bits: Int = 8, hyperplanes: Boolean = false,
      dim: Int = 64): DataFrame = {
    val thrE3 = math.round(threshold * 1000)
    // quantize-once + hoisted norm²; cached so the transform() HOF and
    // the norm kernel run once per VECTOR, not once per candidate pair.
    // The hyperplane bucket reads the SAME codes array the pair kernel
    // does (no second quantization); the axis bucket keeps its float
    // sign semantics (the form the p17 oracle mirrors).
    val withBucket =
      if (hyperplanes)
        withQ3(corpus).withColumn("bucket",
          signBucketHyperplanes(col("codes"), bits, dim))
      else
        withQ3(corpus.withColumn("bucket", signBucket(col("embedding"), bits)))
    val b = graft.CacheScope.track(
      withBucket.select(col("vec_id"), col("bucket"), col("codes"), col("nsq")))
    b.as("a").join(b.hint("merge").as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim_e3", simE3(
        graft.functions.GraftFunctions.dotLong(col("a.codes"), col("b.codes")),
        col("a.nsq"), col("b.nsq")))
      .filter(col("sim_e3") >= thrE3)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        (col("sim_e3").cast("double") / 1000).as("sim"))
  }

  /** IVF/LSH-bucketed ANN: queries probe only their own sign bucket —
   * the corpus is hash-partitioned by bucket, so each query touches one
   * partition-worth of candidates instead of everything. Approximate:
   * recall < 1 by construction. */
  def bucketedAnn(queries: DataFrame, corpus: DataFrame, threshold: Double,
      bits: Int = 8): DataFrame = {
    val thrE3 = math.round(threshold * 1000)
    // the bucket keeps its float-sign semantics (the axis form the p8
    // oracle mirrors — a code-sign bucket would move the ≥ −0.0005 band);
    // the pair similarity rides the e3 integer kernel like the rest of
    // the cosine family, with the corpus projection materialized so the
    // q3 HOF runs once per vector, not once per candidate pair
    val qb = withQ3(queries.withColumn("bucket", signBucket(col("embedding"), bits)))
      .select(col("vec_id").as("query_id"), col("bucket").as("qbucket"),
        col("codes").as("qcodes"), col("nsq").as("qnsq"))
    val cb = graft.CacheScope.track(
      withQ3(corpus.withColumn("bucket", signBucket(col("embedding"), bits)))
        .select(col("vec_id"), col("bucket"), col("codes"), col("nsq")))
    cb.join(broadcast(qb),
        col("qbucket") === col("bucket") && col("query_id") =!= col("vec_id"))
      .withColumn("sim_e3", simE3(
        graft.functions.GraftFunctions.dotLong(col("qcodes"), col("codes")),
        col("qnsq"), col("nsq")))
      .filter(col("sim_e3") >= thrE3)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("bucket"), (col("sim_e3").cast("double") / 1000).as("sim"))
  }

  /** Per-(vector, segment) PQ code assignment: argmin squared L2 against
   * the segment's codebook, ties to the lowest code. The shared stage
   * under [[pqQuantize]] (compression) and [[pqAdcTopK]] (search). */
  def pqAssign(corpus: DataFrame, codebooks: DataFrame,
      dsub: Int): DataFrame = {
    val dist = graft.functions.GraftFunctions.l2Sq(
      slice(col("embedding"), col("segment") * dsub + lit(1), lit(dsub)),
      col("subvec"))
    corpus.crossJoin(broadcast(codebooks))
      .withColumn("dist", dist)
      .groupBy(col("vec_id"), col("segment"))
      .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"),
        min(col("dist")).as("sdist"))
  }

  /**
   * Product quantization (Jégou, Douze, Schmid 2011, "Product
   * Quantization for Nearest Neighbor Search"): split each vector into
   * `m` subvectors of `dsub` dims and quantize each against its
   * segment's codebook (argmin squared L2, ties to the lowest code) —
   * the standard ANN-index compression from 4 bytes/dim to m bytes/vec,
   * one step beyond [[graft.pipeline.CorpusOps.quantizeStats]]'s scalar
   * path.
   *
   * Shape at 100 TB: codebooks are m×ks rows — broadcast; assignment is
   * one map-side pass over the corpus (|corpus| × m × ks kernel calls,
   * codegen'd [[graft.functions.L2Sq]]) followed by two hash aggs keyed
   * on (vec, segment) then vec. The corpus never shuffles on anything
   * wider than its own id.
   *
   * Output: one row per vector — its m codes (CSV, segment order) and
   * the total squared reconstruction error as `err_e6`: each segment's
   * distance (a fixed-order kernel, bit-identical across engines) is
   * quantized to an e6 BIGINT via floor(d·10⁶ + 0.5) BEFORE the
   * per-vector sum, so partial-aggregation order can never move the
   * total — the exact-integer convention, replacing a rounded float sum.
   */
  def pqQuantize(corpus: DataFrame, codebooks: DataFrame,
      dsub: Int): DataFrame =
    pqAssign(corpus, codebooks, dsub)
      .groupBy(col("vec_id"))
      .agg(
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("segment"), col("code")))),
          s => s.getField("code").cast("string"))).as("codes_csv"),
        sum(floor(col("sdist") * 1000000.0 + 0.5).cast("long")).as("err_e6"))

  /**
   * PQ search by Asymmetric Distance Computation (Jégou 2011 §III-B) —
   * the lookup trick that makes PQ fast: each query precomputes an
   * m × ks table of (query subvector ↔ codeword) distances, and a corpus
   * vector's approximate distance is the SUM of m table lookups over its
   * codes — the corpus side never touches float vectors at query time,
   * only its m-byte codes.
   *
   * Shape at 100 TB: the LUT is |queries| × m × ks rows — broadcast; the
   * corpus-code relation joins it map-side and reduces per (query, vec)
   * with map-side partials; top-k per query is a rank window (the
   * k-bounded [[graft.functions.MinKPairs]] of the cosine path applies identically
   * when |queries| × k must stay shuffle-bounded).
   */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, codebooks: DataFrame,
      dsub: Int, k: Int): DataFrame = {
    val codes = pqAssign(corpus, codebooks, dsub)
      .select(col("vec_id"), col("segment"), col("code"))
    val lut = queries.crossJoin(broadcast(codebooks))
      .select(col("vec_id").as("qid"), col("segment"), col("code"),
        graft.functions.GraftFunctions.l2Sq(
          slice(col("embedding"), col("segment") * dsub + lit(1), lit(dsub)),
          col("subvec")).as("d"))
    codes.join(broadcast(lut), Seq("segment", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      // rank on the exact-integer distance: each LUT entry (a fixed-order
      // kernel, bit-identical across engines) quantizes to an e6 BIGINT
      // via floor(d·10⁶ + 0.5) BEFORE the m-lookup sum, so neither
      // engine/run float-add order nor partial-agg order can move the
      // total; ties break on the deterministic vec_id
      .agg(sum(floor(col("d") * 1000000.0 + 0.5).cast("long")).as("adc_e6"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("adc_e6"), col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("qid").as("query_id"), col("rk").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("adc_e6"))
  }

  /**
   * IVFPQ search (Jégou 2011 §IV, the IVFADC pipeline FAISS ships as
   * its workhorse index): coarse-quantize the corpus into IVF cells,
   * PQ-encode each vector's RESIDUAL (v − centroid) — residual
   * magnitudes are much smaller than raw vectors, so the same codebook
   * budget quantizes them far more precisely — and answer queries by
   * probing `nprobe` cells with per-cell ADC lookup tables over the
   * query's own residual against each probed centroid.
   *
   * Exactness discipline: residuals are computed in DOUBLE
   * (float-widening is exact, double subtraction is correctly rounded
   * and bit-identical in any engine — FLOAT subtraction would round to
   * 24 bits and diverge from a SQL replay); every LUT entry is the
   * fixed-order l2Sq kernel e6-quantized BEFORE the m-lookup sum (the
   * p37 convention), so ranking rides exact integers.
   *
   * Shape at 100 TB: assignment + residual is one broadcast pass;
   * codes are m bytes/vector; the LUT is |queries|·nprobe·m·ks rows —
   * broadcast; the candidate relation is only the PROBED cells' codes
   * (nprobe/nlist of the corpus) through one broadcast equi-join on
   * (cluster, segment, code) and a per-(query, vec) hash agg with
   * map-side partials. Top-k is a per-query rank over cell-bounded
   * candidates.
   */
  /** The IVF residual relation (vec_id, cluster, embedding:
   * array<double>) — coarse-assign each corpus vector to its cell and
   * subtract the cell centroid in DOUBLE (float-widening is exact,
   * double subtraction correctly rounded, so any engine reproduces the
   * residual bit for bit). Cached: the zip_with HOF and the assignment
   * fan out to every consumer (PQ encode, PQ training supersteps, the
   * cluster join-back). One broadcast pass — the corpus never
   * shuffles. */
  def ivfResiduals(corpus: DataFrame, centroids: DataFrame): DataFrame =
    graft.CacheScope.track(
      ivfAssign(corpus, centroids).as("a")
        .join(broadcast(centroids), col("cluster") === col("centroid_id"))
        .select(col("a.vec_id"), col("a.cluster"),
          zip_with(col("a.embedding"), col("cembedding"),
            (x, c) => x.cast("double") - c.cast("double"))
            .as("embedding")))

  /**
   * One Lloyd step of PER-SEGMENT k-means over PQ training data (the
   * FAISS ProductQuantizer::train discipline — Jégou 2011 §II trains
   * each sub-quantizer independently on its subvector slice, on
   * RESIDUALS when composed with an IVF coarse quantizer): assignment
   * is [[pqAssign]]'s argmin-L2 over the broadcast codebooks (ties to
   * the lowest code), and the update re-estimates each codeword
   * component as the mean of its members in the p52 exact-integer
   * convention — components e4-quantize once via floor(v·10⁴ + 0.5)
   * (pure IEEE on exact-double residuals), the sum is INTEGER, and the
   * new component is ONE final IEEE division. A code that attracted no
   * members keeps its previous codeword (size 0 — deterministic, and
   * the standard small-corpus alternative to FAISS's random re-seeding,
   * which an oracle could not replay).
   *
   * Returns one row per (segment, code, pos): membership size, the
   * trained component `c_new`, and the incoming component `c_old`.
   *
   * Shape at 100 TB: assignment is |corpus|·m·ks broadcast kernel
   * calls + a (vec, segment) hash agg; the update is one pos-exploded
   * (segment, code, pos) hash agg with map-side partials — m·ks·dsub
   * output rows. The corpus never shuffles on anything but its own id.
   */
  def pqTrainStep(residuals: DataFrame, codebooks: DataFrame,
      dsub: Int): DataFrame = {
    val asg = pqAssign(residuals, codebooks, dsub)
      .select(col("vec_id"), col("segment"), col("code"))
    val upd = asg.join(residuals, Seq("vec_id"))
      .select(col("segment"), col("code"),
        posexplode(slice(col("embedding"), col("segment") * dsub + lit(1),
          lit(dsub))).as(Seq("p0", "v")))
      .select(col("segment"), col("code"),
        (col("p0") + 1).cast("int").as("pos"),
        floor(col("v").cast("double") * 10000.0 + 0.5).cast("long").as("v_e4"))
      .groupBy(col("segment"), col("code"), col("pos"))
      .agg(count(lit(1)).as("size"), sum(col("v_e4")).as("s_e4"))
    // full spine from the incoming books so empty codes keep their
    // codeword and the output is always m·ks·dsub rows
    val spine = codebooks
      .select(col("segment"), col("code"),
        posexplode(col("subvec")).as(Seq("p0", "cv")))
      .select(col("segment"), col("code"),
        (col("p0") + 1).cast("int").as("pos"),
        col("cv").cast("double").as("c_old"))
    spine.join(upd, Seq("segment", "code", "pos"), "left")
      .select(col("segment"), col("code"), col("pos"),
        coalesce(col("size"), lit(0L)).as("size"),
        when(col("size").isNotNull,
          col("s_e4").cast("double") / (col("size").cast("double") * 10000.0))
          .otherwise(col("c_old")).as("c_new"),
        col("c_old"))
  }

  /** PQ codebook training: `iterations` Lloyd steps ([[pqTrainStep]])
   * from a deterministic init, returning the FINAL step's
   * (segment, code, pos, size, c_new, c_old) relation. The codebook is
   * model-scale (m·ks·dsub rows), so each superstep's artifact is
   * materialized DRIVER-side and re-created as a literal relation (the
   * p91 power-iteration / BPE-merge convention) — iteration lineage
   * never compounds and the next assignment pass reads a broadcast
   * literal; ALL corpus-scale work stays in the distributed
   * assignment + update aggregates. */
  def pqTrain(residuals: DataFrame, initCodebooks: DataFrame, dsub: Int,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    val spark = residuals.sparkSession
    import spark.implicits._
    var cb = initCodebooks
    var step: DataFrame = null
    for (it <- 1 to iterations) {
      step = pqTrainStep(residuals, cb, dsub)
      // the collected books seed the NEXT assignment pass only — after
      // the final step they would be discarded, so skip that collect
      // (it would bill an extra corpus-scale assignment+update pass)
      // and leave the final relation lazy for its consumer
      if (it < iterations) {
        val rows = step.select(col("segment"), col("code"), col("pos"),
            col("c_new")).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        cb = rows.groupBy(r => (r._1, r._2)).toSeq
          .map { case ((seg, code), rs) =>
            (seg, code, rs.sortBy(_._3).map(_._4).toSeq) }
          .toDF("segment", "code", "subvec")
      }
    }
    step
  }

  /** Deterministic PQ-training init over a residual relation: the first
   * ≤ks residuals of the `vec_id % 50 = 7` rule, code = rank by vec_id,
   * one subvector slice per segment. The %50=0 rule (the centroid
   * fixture) would NOT work: a centroid's own residual is the zero
   * vector, so every init codeword would collapse to 0 and the first
   * Lloyd assignment would degenerate to one code per segment. ONE
   * definition shared by the query layer, the planted-fixture chain,
   * the profiling harness and the spec — the init recipe cannot drift
   * between the measured pipeline and the declared one. */
  def pqInitBooks(rv: DataFrame, m: Int = 4, dsub: Int = 16,
      ks: Int = 16): DataFrame = {
    val ranked = rv.filter(col("vec_id") % 50 === 7)
      .withColumn("code", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1)
        .cast("int"))
      .filter(col("code") < ks)
    val segs = rv.sparkSession.range(0, m)
      .select(col("id").cast("int").as("segment"))
    ranked.crossJoin(segs)
      .select(col("segment"), col("code"),
        slice(col("embedding"), col("segment") * dsub + lit(1), lit(dsub))
          .as("subvec"))
  }

  /** Assemble (segment, code, subvec) codebooks from a [[pqTrain]]
   * audit relation — the trained books an IVFPQ index consumes. */
  def booksFromTrain(audit: DataFrame): DataFrame =
    audit.groupBy(col("segment"), col("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c_new")))),
        s => s.getField("c_new")).as("subvec"))

  def ivfpqTopK(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, dsub: Int, k: Int,
      nprobe: Int): DataFrame = {
    val cents = broadcast(centroids)
    val cbD = codebooks.select(col("segment"), col("code"),
      transform(col("subvec"), x => x.cast("double")).as("subvec"))
    // coarse assign + exact-double residual (cached inside)
    val asg = ivfResiduals(corpus, centroids)
    val codes = pqAssign(asg, cbD, dsub)
      .join(asg.select(col("vec_id"), col("cluster")), "vec_id")
      .select(col("vec_id"), col("cluster"), col("segment"), col("code"))
    // per-(query, probed cell) residual — |queries|·nprobe rows, cached
    // so the HOF is not re-inlined into the ks·m LUT rows
    val qres = graft.CacheScope.track(
      ivfProbes(queries, centroids, nprobe).as("q")
        .join(cents, col("cluster") === col("centroid_id"))
        .select(col("q.vec_id").as("qid"), col("q.cluster"),
          zip_with(col("q.embedding"), col("cembedding"),
            (x, c) => x.cast("double") - c.cast("double")).as("qres")))
    val lut = qres.crossJoin(broadcast(cbD))
      .select(col("qid"), col("cluster"), col("segment"), col("code"),
        graft.functions.GraftFunctions.l2Sq(
          slice(col("qres"), col("segment") * dsub + lit(1), lit(dsub)),
          col("subvec")).as("d"))
    codes.join(broadcast(lut), Seq("cluster", "segment", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"), col("cluster"))
      .agg(sum(floor(col("d") * 1000000.0 + 0.5).cast("long")).as("adc_e6"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("adc_e6"), col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("qid").as("query_id"), col("rk").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("cluster"), col("adc_e6"))
  }

  /**
   * IVFPQ recall@k audit — the FAISS-benchmark quality measure that
   * closes the quantization-audit family (p122 audits SQ8's ranking,
   * p123/p128 audit the HNSW walk): [[ivfpqTopK]]'s ADC top-k per
   * query scored against the EXACT integer-L2 top-k over the same
   * once-quantized e3 codes (ties to the lower id — the family ranking
   * convention), DECOMPOSED the way FAISS benchmarks decompose it:
   * global recall@k (vs the exact top-k over the WHOLE corpus —
   * bounded by IVF cell coverage, ≈ nprobe/nlist on a corpus with no
   * cluster structure, which is exactly what the synthetic fixture
   * measures) and probed-cell recall@k (vs the exact top-k restricted
   * to the probed cells — isolating the PQ/ADC ranking fidelity from
   * the coverage loss). One row per query with both hit counts and
   * both recalls in exact ppm (one integer division each) — the audit
   * itself is oracle-checkable, not a float.
   *
   * Shape at 100 TB: the approx side is [[ivfpqTopK]] (probed cells
   * only); the exact-global side broadcasts the |queries|-scale code
   * relation against the corpus and keeps top-k per query with the
   * k-bounded MinKPairs aggregate (≤k pairs per map task per query —
   * never a pair-relation sort); the exact-probed side is the same
   * kernel over the probed cells' candidates only; the intersections
   * join |queries|·k relations.
   */
  def ivfpqRecall(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, dsub: Int, k: Int,
      nprobe: Int): DataFrame = {
    // the corpus assignment is deliberately RECOMPUTED for the
    // probed-exact side rather than cached and shared with ivfpqTopK's
    // internal residual relation: measured at the 100× rehearsal,
    // caching the wide (embedding, codes, nsq) relation cost 199/201 s
    // vs 168 s recomputing — the kernel is a map-side codegen'd
    // broadcast pass, cheaper than materializing and rescanning the
    // wide cached blocks (PLAN_AUDIT round-14 note)
    val approx = ivfpqTopK(queries, corpus, centroids, codebooks, dsub,
        k, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    // hinted only where it builds a join: Spark drops a broadcast hint
    // on the preserved side of the left joins below
    val qc = withQ3(queries)
      .select(col("vec_id").as("query_id"), col("codes").as("qcodes"))
    // ONE shared ranking kernel for both exact sides — tie-break and
    // k-bound conventions cannot drift between the two recall numbers.
    // Input: (query_id, vec_id, qcodes, codes) candidates.
    def exactTopK(cands: DataFrame): DataFrame = cands
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.l2SqLong(
          col("qcodes"), col("codes")).as("d"))
      .groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.minKPairs(
        struct(col("d").as("dist"), col("vec_id").as("dst")), k).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("pair"))
      .select(col("query_id"), col("pair.dst").as("neighbor_id"))
    // narrow quantized projection, tracked BEFORE the pair join — the
    // withQ3 materialization contract (projection collapse would
    // otherwise inline the interpreted q3 HOF per PAIR)
    val cc = graft.CacheScope.track(
      withQ3(corpus).select(col("vec_id"), col("codes")))
    val exact = exactTopK(cc.join(broadcast(qc),
      col("query_id") =!= col("vec_id")))
    val probes = ivfProbes(queries, centroids, nprobe)
      .select(col("vec_id").as("query_id"), col("cluster"),
        col("codes").as("qcodes"))
    val probedExact = exactTopK(ivfAssign(corpus, centroids)
      .select(col("vec_id"), col("cluster"), col("codes"))
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("query_id") =!= col("vec_id")))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val hitsProbed = approx.join(probedExact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits_probed"))
    qc.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .join(hitsProbed, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("n_hits_probed", coalesce(col("n_hits_probed"), lit(0L)))
      .withColumn("k", lit(k.toLong))
      .withColumn("recall_ppm", expr(s"(n_hits * 1000000) div $k"))
      .withColumn("recall_probed_ppm",
        expr(s"(n_hits_probed * 1000000) div $k"))
  }

  /**
   * Semantic deduplication (SemDeDup — Abbas et al. 2023,
   * arXiv:2303.09540): cluster the corpus with the IVF coarse quantizer,
   * then within each cluster drop every vector whose cosine similarity to
   * a LOWER-id cluster-mate reaches the threshold, keeping one
   * representative per semantic-duplicate neighborhood. This is the
   * embedding-space analogue of MinHash dedup: candidate pairs come only
   * from within a cluster, never from an all-pairs join.
   *
   * Shape at 100 TB: the assignment is the broadcast map-side pass of
   * [[ivfAssign]] (no corpus shuffle); the within-cluster self-join
   * shuffles the corpus once on the cluster id; per-vector reduction is a
   * hash agg with map-side partials. With nlist ≈ √N the expected cluster
   * population is √N, so within-cluster pair work is ~N^1.5 ≪ N² — and a
   * pathological hot cluster is the usual skew story (more centroids, or
   * `Skew.saltedJoin` / AQE skew split).
   *
   * Output: one row per corpus vector — its cluster, the max similarity
   * to any lower-id cluster-mate (NULL when it is the cluster's lowest
   * id), and the keep/drop decision.
   */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    val thrE3 = math.round(threshold * 1000)
    // the assignment fans out three ways (both self-join sides + the
    // final left join); without the persist each consumer would re-run
    // the full |corpus|x|centroids| affinity pass — and ivfAssign's own
    // quantize-once codes/norm² projection rides the same cache so the
    // pair stage is pure integer dot products ([[simE3]])
    val asg = graft.CacheScope.track(ivfAssign(corpus, centroids)
      .select(col("vec_id"), col("cluster"), col("codes"), col("nsq")))
    val prior = asg.as("a").join(asg.as("b"),
        col("a.cluster") === col("b.cluster") && col("b.vec_id") < col("a.vec_id"))
      .select(col("a.vec_id").as("vec_id"), simE3(
          graft.functions.GraftFunctions.dotLong(col("a.codes"), col("b.codes")),
          col("a.nsq"), col("b.nsq")).as("sim_e3"))
      .groupBy(col("vec_id"))
      // max over the e3 longs == max over the 3-dp similarity (monotone)
      .agg(max(col("sim_e3")).as("max_e3"))
    asg.select(col("vec_id"), col("cluster"))
      .join(prior, Seq("vec_id"), "left")
      .withColumn("max_prior_sim", col("max_e3").cast("double") / 1000)
      .withColumn("dropped",
        coalesce(col("max_e3") >= thrE3, lit(false)))
      .drop("max_e3")
  }

  /**
   * Embedding-table QA audit — the sanity pass a pipeline runs before
   * feeding vectors to ANN/dedup stages: per group, counts of
   * wrong-dimension vectors, all-zero vectors (cosine-undefined — they'd
   * NaN every similarity downstream), and norm² outliers beyond the
   * Tukey 1.5·IQR fences. The norm² is the codegen'd fixed-order L2
   * kernel against the zero vector (bit-identical to a left-to-right
   * fold, so an independent engine reproduces it exactly), integer-scaled
   * to milli-units; the quartiles come from the exact order-statistic
   * histogram ([[CorpusOps.exactQuantiles]]), and the fences are
   * evaluated in pure integer arithmetic (×2 clears the .5 in 1.5·IQR) —
   * no float comparison anywhere past the one rounding.
   *
   * Shape at scale: one corpus scan for the per-vector projection, a
   * histogram-scale quantile derivation (distinct norm values, not
   * rows), and a broadcast join-back of the |groups|-row fence table.
   */
  def embeddingAudit(embs: DataFrame, idCol: String, vecCol: String,
      groupCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"bad dim $dim")
    val v = col(vecCol)
    val base = graft.CacheScope.track(embs
      .select(col(groupCol).cast("string").as("grp"), col(idCol),
        size(v).as("n_dims"),
        graft.functions.GraftFunctions.l2Sq(v, array_repeat(lit(0.0f), dim))
          .as("ssq"))
      .withColumn("ok_dim", col("n_dims") === dim)
      .withColumn("ssq_mil",
        // the Exact e3 round-half-up code (ssq ≥ 0) — identical in
        // Spark and DuckDB for the same per-row fold double
        when(col("ok_dim"), graft.functions.Exact.eRow(col("ssq"), 3))))
    val fences = CorpusOps.exactQuantiles(
        base.filter(col("ok_dim")), col("grp"), col("ssq_mil"),
        Seq((1, 4), (3, 4)))
      .groupBy(col("source").as("grp"))
      .agg(max(when(col("q") === 0.25, col("value"))).as("q1_mil"),
        max(when(col("q") === 0.75, col("value"))).as("q3_mil"))
    base.join(broadcast(fences), Seq("grp"), "left")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(!col("ok_dim"), 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(col("ok_dim") && col("ssq") === 0.0, 1L).otherwise(0L))
          .as("n_zero"),
        sum(when(col("ssq_mil") * 2 < col("q1_mil") * 5 - col("q3_mil") * 3,
          1L).otherwise(0L)).as("n_low_outliers"),
        sum(when(col("ssq_mil") * 2 > col("q3_mil") * 5 - col("q1_mil") * 3,
          1L).otherwise(0L)).as("n_high_outliers"),
        max(col("q1_mil")).as("q1_mil"), max(col("q3_mil")).as("q3_mil"))
      .withColumnRenamed("grp", groupCol)
  }

  /**
   * Embedding-space benchmark decontamination — the semantic twin of the
   * n-gram screens (exact 5-gram membership, Jaccard degree): a corpus
   * document is contaminated when its embedding is close to ANY
   * benchmark embedding, catching paraphrased test material that shares
   * no n-grams with the benchmark (the screen n-gram decontamination is
   * blind to). One verdict row per corpus vector: the max rounded cosine
   * to the benchmark set, the closest benchmark id (ties to the smallest
   * id via a single struct-max — no second pass), and the drop decision.
   *
   * Shape at 100 TB: the benchmark set is tiny and BROADCASTS; the
   * corpus pays one map-side pass (|corpus| × |benchmark| codegen'd
   * cosine kernels) and a per-vector hash aggregation with map-side
   * partials — no corpus shuffle beyond its own vec-id aggregation, no
   * self-join. A benchmark too large to broadcast falls back to the IVF
   * cell-bucketed route ([[semanticDedup]]'s assignment join).
   */
  def semanticContamination(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double): DataFrame = {
    val thrE3 = math.round(threshold * 1000)
    // quantize both sides once ([[simE3]]): the benchmark's codes ride
    // the broadcast relation (materialized once); the corpus projection
    // is cached so projection collapse can't inline the transform() HOF
    // into the pair output and recompute it per benchmark row
    val bq = withQ3(benchmark).select(col("vec_id").as("bid"),
      col("codes").as("bcodes"), col("nsq").as("bnsq"))
    val cq = graft.CacheScope.track(
      withQ3(corpus).select(col("vec_id"), col("codes"), col("nsq")))
    cq.as("c")
      .crossJoin(broadcast(bq))
      .select(col("vec_id"), col("bid"), simE3(
        graft.functions.GraftFunctions.dotLong(col("codes"), col("bcodes")),
        col("nsq"), col("bnsq")).as("sim_e3"))
      // cosine-undefined (zero-norm) pairs are NULL from simE3 — they
      // must not enter the argmax struct, where engine/oracle NULL-in-
      // row comparison semantics could differ; a vector with NO defined
      // pair drops out of the verdict on both sides identically
      .filter(col("sim_e3").isNotNull)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim_e3"), (-col("bid")).as("nbid"))).as("m"))
      .select(col("vec_id"),
        (col("m.sim_e3").cast("double") / 1000).as("max_sim"),
        (-col("m.nbid")).as("matched_bench"),
        (col("m.sim_e3") >= thrE3).as("contaminated"))
  }

  /**
   * Upper-triangle covariance matrix of the embedding table in exact
   * integer arithmetic — step one of PCA/whitening over a distributed
   * corpus. Components are ×10³-rounded to integers at the scan, so
   * every downstream sum is exact and engine-independent; the matrix
   * entry is the textbook numerator n·Σxᵢxⱼ − ΣxᵢΣxⱼ (covariance ×n²
   * ×10⁶ — never divided, so no float appears anywhere).
   *
   * Shape at 100 TB: one pos-explode (d rows per vector), a d-row sum
   * aggregate, and the outer-product self-join co-partitioned on the
   * vector id — d(d+1)/2 products per vector emitted map-side into a
   * hash aggregate with partials; output is d(d+1)/2 rows total. For
   * much larger d the same plan swaps the join for a typed Aggregator
   * packing the per-partition triangle (constant-factor, not
   * structural); BIGINT headroom holds to ~10⁶ vectors at d=64 — past
   * that, shard the sum and recombine (documented, not silently
   * truncated).
   */
  def covarianceUpper(vecs: DataFrame): DataFrame = {
    val x = graft.CacheScope.track(
      vecs.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i", "xv")))
        .select(col("vec_id"), col("i"),
          graft.functions.Exact.eRow(col("xv").cast("double"), 3).as("x")))
    val n = vecs.agg(count(lit(1)).as("n"))
    val sums = x.groupBy(col("i")).agg(sum(col("x")).as("s"))
    x.as("a").join(x.hint("merge").as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.x") * col("b.x")).as("sij"))
      .join(broadcast(sums.select(col("i"), col("s").as("si"))), Seq("i"))
      .join(broadcast(sums.select(col("i").as("j"), col("s").as("sj"))),
        Seq("j"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("n") * col("sij") - col("si") * col("sj")).as("cov_num"))
  }

  /**
   * Top principal component by fixed-point integer power iteration over
   * [[covarianceUpper]]'s matrix (von Mises & Pollaczek-Geiringer 1929;
   * the PCA step a whitening/projection stage trains). The matrix is
   * integer-downscaled once (div 10⁶), the iterate starts at the
   * all-ones ×10⁶ vector, and each step is w = C·v followed by an
   * ∞-norm renormalization v = w·10⁶ div max|w| — truncating integer
   * division on BOTH engines, so an independent SQL replay reproduces
   * the iterate bit for bit (the p83 PageRank argument; determinism is
   * what makes the trained artifact reviewable).
   *
   * Shape at scale: the matrix is d²-scale — the iteration is
   * broadcast-tiny; ALL corpus-scale work already happened in the one
   * covariance pass. Iterations are a constant.
   */
  def pcaPowerTop(cov: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1)
    // The matrix is d(d+1)/2 rows BY CONSTRUCTION (the corpus-scale work
    // already collapsed into it in covarianceUpper's one pass), so the
    // fixed-point loop runs driver-side on the collected triangle — the
    // localPageRank/BPE-merge convention: iterating a model-scale
    // artifact through distributed supersteps is pure scheduler
    // overhead (measured 8.7 s vs <1 s at sf0.1). Same truncating
    // integer arithmetic; a SQL replay reproduces it bit for bit.
    val spark = cov.sparkSession
    import spark.implicits._
    val tri = cov.select(col("i").cast("int"), col("j").cast("int"),
        expr("cov_num div 1000000").as("c"))
      .as[(Int, Int, Long)].collect()
    val dims = tri.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val idx = dims.zipWithIndex.toMap
    val d = dims.length
    val c = Array.ofDim[Long](d, d)
    tri.foreach { case (i, j, v) =>
      c(idx(i))(idx(j)) = v; c(idx(j))(idx(i)) = v
    }
    var v = Array.fill(d)(1000000L)
    for (_ <- 1 to iterations) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).sum)
      val m = math.max(w.map(math.abs).max, 1L)
      v = w.map(x => x * 1000000L / m)
    }
    dims.indices.map(k => (dims(k), v(k))).toDF("i", "v_e6")
  }

  /**
   * Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
   * arXiv:1811.01136 §3, the CCMatrix/LASER criterion): a candidate
   * cross-group pair (x, y) scores by its cosine RELATIVE to each side's
   * neighborhood — margin(x, y) = cos(x, y) / ((ΣNN_k(x)/k_x +
   * ΣNN_k(y)/k_y) / 2) — so a source vector that is merely "close to
   * everything" (a hub) mines nothing, while an isolated sharp match
   * scores high. Here the two groups are label slices of the embedding
   * table (the bitext-mining shape: source language vs target
   * language). All arithmetic is exact integers on e3 integer-cosine
   * scores ([[simE3]] over the assignment's quantize-once codes):
   * margin_ppm = 2·c·k_x·k_y·10⁶ div (s_x·k_y + s_y·k_x), candidates
   * keep c_e3 > 0 (which also bounds the denominator below by the
   * pair's own score, and drops NULL cosine-undefined pairs in both
   * engines), best match per source by (margin, smaller id), accepted
   * at margin ≥ 1.0.
   *
   * Shape at 100 TB: candidates are IVF cell-mates only (the p61/p68
   * bucketing — never a cross join of the two language sides); the
   * neighborhood sums ride the k-bounded
   * [[graft.functions.MinKPairs]] aggregate keyed on either endpoint
   * (map-side partial top-k — a rank window would shuffle and sort the
   * whole pair relation, twice), and the per-source best match is a
   * map-side max_by argmax, not a third window. Everything downstream
   * is pair-scale. Centroids broadcast; the corpus never shuffles wide.
   */
  def marginMining(vecs: DataFrame, centroids: DataFrame,
      srcLabel: Int, tgtLabel: Int, k: Int = 3): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    // corpus-scale label relation and cell self-join sides merge-hinted
    // (the round-15 static-broadcast-misestimate class)
    val asg = graft.CacheScope.track(
      ivfAssign(vecs, centroids)
        .select(col("vec_id"), col("cluster"), col("codes"), col("nsq"))
        .join(vecs.select(col("vec_id"), col("label")).hint("merge"),
          Seq("vec_id")))
    val pairs = graft.CacheScope.track(
      asg.as("a").filter(col("a.label") === srcLabel)
        .join(asg.hint("merge").as("b").filter(col("b.label") === tgtLabel),
          col("a.cluster") === col("b.cluster"))
        .select(col("a.vec_id").as("src_id"), col("b.vec_id").as("tgt_id"),
          simE3(graft.functions.GraftFunctions.dotLong(
              col("a.codes"), col("b.codes")),
            col("a.nsq"), col("b.nsq")).as("c_e3"))
        .filter(col("c_e3") > 0))
    // top-k neighborhood sums via the k-bounded aggregate: (−c_e3, id)
    // ascending ≡ (c_e3 desc, id asc), the window it replaces; the sum
    // and count then fold the ≤k-element array per key — integer exact
    def nnSums(key: String, other: String) =
      pairs.groupBy(col(key))
        .agg(graft.functions.GraftFunctions.minKPairs(
          struct((-col("c_e3")).as("dist"), col(other).as("dst")), k)
          .as("topk"))
        .select(col(key),
          expr("aggregate(topk, CAST(0 AS BIGINT), (acc, x) -> acc - x.dist)")
            .as(s"s_$key"),
          size(col("topk")).cast("long").as(s"k_$key"))
    pairs
      .join(nnSums("src_id", "tgt_id"), Seq("src_id"))
      .join(nnSums("tgt_id", "src_id"), Seq("tgt_id"))
      .withColumn("margin_ppm",
        expr("(2 * c_e3 * k_src_id * k_tgt_id * 1000000) div " +
          "(s_src_id * k_tgt_id + s_tgt_id * k_src_id)"))
      // best match per source: map-side argmax (margin desc, tgt asc) —
      // the p80 struct-max shape, not a third pair-scale window
      .groupBy(col("src_id"))
      .agg(max_by(struct(col("tgt_id"), col("c_e3"), col("margin_ppm")),
        struct(col("margin_ppm"), -col("tgt_id"))).as("m"))
      .select(col("src_id"), col("m.tgt_id").as("tgt_id"),
        col("m.c_e3").as("c_e3"), col("m.margin_ppm").as("margin_ppm"),
        (col("m.margin_ppm") >= 1000000L).as("accepted"))
  }

  /**
   * IVF cell-population audit: per-cell vector count, corpus share, and
   * load factor vs the uniform ideal (count × nlist / N) — the balance
   * check run before trusting an IVF index's probe cost model: a cell at
   * load_ppm ≫ 10⁶ is the hot list every query pays for. All ratios are
   * exact integer PPM (numerators and denominators are counts).
   *
   * Shape at 100 TB: assignment is [[ivfAssign]]'s broadcast map-side
   * pass; the census is one nlist-row hash aggregate; the totals row
   * (N, nlist) is a 1-row cross join — nothing about this query scales
   * with anything but the centroid count after the scan.
   */
  def ivfCellStats(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val census = ivfAssign(corpus, centroids)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    // load factor divides by nlist (the CENTROID count), not by the
    // populated-cell count: empty cells are precisely the imbalance the
    // audit exists to expose, and a populated-cell denominator would
    // understate hot-cell load exactly when the index is skewed
    val totals = census.agg(sum(col("n_vecs")).as("n_total"))
      .crossJoin(centroids.agg(count(lit(1)).as("n_cells")))
    census.crossJoin(broadcast(totals))
      .withColumn("share_ppm", expr("(n_vecs * 1000000) div n_total"))
      .withColumn("load_ppm", expr("(n_vecs * n_cells * 1000000) div n_total"))
      .select(col("cluster"), col("n_vecs"), col("share_ppm"), col("load_ppm"))
  }

  /**
   * Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
   * greedy diverse top-k selection from each query's candidate pool —
   * pick the most relevant candidate first, then repeatedly the one
   * maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) against the
   * already-selected set S. The retrieval-diversity step RAG stacks run
   * after ANN: near-duplicate hits stop crowding out coverage.
   *
   * This implementation fixes λ = 1/2 so the DOUBLED objective is pure
   * integer arithmetic on e3 integer-cosine scores ([[simE3]] over
   * quantize-once codes — relevance and pool-pair similarity both): the
   * emitted `score2x_e3` is rel_e3 for the first pick and rel_e3 −
   * max-sim_e3 after, ties on the smaller candidate id. Deterministic
   * end to end, so an oracle can unroll the greedy steps as literal SQL
   * (the p83 superstep convention).
   *
   * Shape at 100 TB: the pool is the k-bounded output of a broadcast
   * scoring pass (|q|·poolN rows); pool codes come from ONE
   * broadcast-pool join against the corpus (the corpus never shuffles);
   * the N² pairwise matrix is per-query-local; the greedy loop runs
   * inside `flatMapGroups` per query — distributed over queries, never
   * on the driver, state = one pool.
   */
  def mmrSelect(queries: DataFrame, corpus: DataFrame, poolN: Int,
      k: Int): DataFrame = {
    require(k >= 1 && poolN >= k, s"need poolN >= k >= 1: $poolN/$k")
    val spark = corpus.sparkSession
    import spark.implicits._
    // quantize-once corpus projection, shared by the scoring pass and
    // the pool-pair stage (cached so the HOF runs once per vector)
    val cq = graft.CacheScope.track(withQ3(corpus)
      .select(col("vec_id"), col("codes"), col("nsq")))
    val qq = withQ3(queries).select(col("vec_id").as("qid"),
      col("codes").as("qcodes"), col("nsq").as("qnsq"))
    val scored = cq.join(broadcast(qq), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"),
        simE3(graft.functions.GraftFunctions.dotLong(col("qcodes"), col("codes")),
          col("qnsq"), col("nsq")).as("rel_e3"))
      // a NULL relevance (cosine-undefined zero-norm, length-mismatched
      // or null-element embedding — the VectorOps contract) cannot be
      // ranked: drop the candidate here instead of letting a null Long
      // blow up the typed decode
      .filter(col("rel_e3").isNotNull)
    // per-query pool selection via the k-bounded MinKPairs aggregate
    // ((−rel, cid) asc ≡ (rel desc, cid asc)): map-side partial top-k,
    // so the shuffle carries poolN rows per query instead of the whole
    // |q|×N scored relation a rank window would sort
    val pool = graft.CacheScope.track(scored
      .groupBy(col("qid"))
      .agg(graft.functions.GraftFunctions.minKPairs(
        struct((-col("rel_e3")).as("dist"), col("cid").as("dst")), poolN)
        .as("topk"))
      .select(col("qid"), explode(col("topk")).as("pair"))
      .select(col("qid"), col("pair.dst").as("cid"),
        (-col("pair.dist")).as("rel_e3")))
    // pool codes: ONE broadcast-pool join — the corpus never shuffles
    val poolE = cq
      .join(broadcast(pool), col("vec_id") === col("cid"))
      .select(col("qid"), col("cid"), col("rel_e3"), col("codes"), col("nsq"))
    // one orientation only (cosine is symmetric): halves the N² kernel
    // work and pair volume; the greedy's sim map registers both
    val pairs = poolE.as("a").join(poolE.as("b"),
        col("a.qid") === col("b.qid") && col("a.cid") < col("b.cid"))
      .select(col("a.qid").as("qid"), col("a.cid").as("ca"),
        col("a.rel_e3").as("rel_a"), col("b.cid").as("cb"),
        simE3(graft.functions.GraftFunctions.dotLong(col("a.codes"), col("b.codes")),
          col("a.nsq"), col("b.nsq")).as("sim_e3"))
    // self rows carry candidates of singleton pools (no pair rows)
    val rows = pool.select(col("qid"), col("cid").as("ca"),
        col("rel_e3").as("rel_a"), col("cid").as("cb"),
        lit(null).cast("long").as("sim_e3"))
      .unionByName(pairs)
    rows.as[(Long, Long, Long, Long, Option[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rs = it.toSeq
        val rel = rs.map(r => r._2 -> r._3).toMap
        val sim = rs.collect { case (_, a, _, b, Some(s)) =>
          Seq((a, b) -> s, (b, a) -> s) }.flatten.toMap
        val cands = scala.collection.mutable.Set(rel.keys.toSeq: _*)
        var selected = List.empty[Long]
        val out = Seq.newBuilder[(Long, Int, Long, Long)]
        var rank = 1
        while (rank <= k && cands.nonEmpty) {
          val (score2x, pick) = cands.toSeq.map { c =>
            val penalty =
              if (selected.isEmpty) 0L
              else selected.map(s => sim.getOrElse((c, s), 0L)).max
            (rel(c) - penalty, c)
          }.minBy { case (s, c) => (-s, c) }
          out += ((qid, rank, pick, score2x))
          cands -= pick
          selected ::= pick
          rank += 1
        }
        out.result().iterator
      }
      .toDF("query_id", "rank", "neighbor_id", "score2x_e3")
  }

  // ------------------------------------------------------------------
  // Planted-cluster embedding fixture — ANN quality audits as SIGNAL
  // ------------------------------------------------------------------

  /** Per-dimension jitter amplitude of the planted fixture: 0.02 is 20
   * e3-units (well above the ±1 quantization noise of the q3 codes) and
   * 200 exact e4-units (so PQ's Lloyd means reproduce the patterns
   * exactly), while the full-vector jitter norm 8·A = 0.16 stays an
   * order of magnitude under the ~1.1 norm / ≥30° angular separation of
   * the fixture centroids — measured zero cosine-assignment flips at
   * every SF. */
  val plantedAmp: Double = 0.02

  /** Pattern index p ∈ {0..3} of vector `v` in segment `s`: mid-bits
   * (>>16) of a Knuth multiplicative mix — pure non-negative BIGINT
   * arithmetic both engines evaluate identically (max intermediate
   * ~1.4e18, inside signed-64). Low bits would correlate with v mod 4
   * and starve the %50=7 PQ-init rows of patterns; the mid-bits cover
   * all 4 patterns per segment within the first 10 init rows. */
  def plantedPattern(v: Long, s: Int): Int =
    ((((v % 65536L) * 7919L + s * 104729L + 12345L) * 2654435761L
      / 65536L) % 4L).toInt

  /** The shared SQL rendering of [[plantedPattern]] — ONE formula
   * interpolated into both the engine expression (`intDiv` = "div") and
   * the DuckDB oracle (`intDiv` = "//"), so the pattern draw cannot
   * drift between them. */
  def plantedPatternSql(s: Int, intDiv: String): String =
    s"((((vec_id % 65536) * 7919 + $s * 104729 + 12345) * 2654435761) " +
      s"$intDiv 65536) % 4"

  /** Deterministic ±1 sign of pattern `p` at dimension `i` (the
   * [[planeCoef]] construction on (p, i)): patterns are sign vectors,
   * so two distinct patterns differ in ~half their 16 segment
   * dimensions and all within-cluster distances ride the discrete
   * ladder 32·A²·s, s = number of differing segments. */
  def plantedSigma(p: Int, i: Int): Int =
    if ((((p * 64L + i) * 2654435761L / 131072L) % 2L) == 0L) 1 else -1

  /**
   * Planted-cluster embedding relation derived deterministically from a
   * base embeddings table — the fixture that turns the ANN quality
   * audits ([[ivfpqRecall]], the recall family) into SIGNAL. The
   * synthetic base table is structureless (near-uniform), so recall on
   * it measures IVF cell coverage ≈ nprobe/nlist (~0.04) and a real
   * ranking regression is invisible behind the noise floor. Here every
   * vector v is re-planted as a Gaussian-blob-style clone of its home
   * anchor — the %50 centroid-rule row of its own 50-block:
   *
   *   planted(v) = base((v div 50)·50) + jitter(v),   jitter(centroid) = 0
   *
   * with jitter(v)[i] = A·σ(p(v, i div 16), i) ([[plantedAmp]],
   * [[plantedPattern]], [[plantedSigma]]): per segment the jitter is
   * one of only FOUR sign patterns, so the IVF residuals form a
   * 4-element discrete set per PQ segment that a 16-code codebook
   * trained by Lloyd from the %50=7 init REPRESENTS EXACTLY (each init
   * draw is itself a pattern; 10+ draws from 4 values cover all four —
   * verified per segment in the spec). Consequences, each pinned by
   * spec + oracle row:
   *
   *  - clusters are exactly the 50-blocks at EVERY scale (the home rule
   *    is positional), centroids keep zero jitter, and cosine IVF
   *    assignment recovers the home cell with zero flips;
   *  - at k > cluster size (the audit uses k = 60 over 50-blocks) the
   *    exact top-k straddles cells, so global recall@k RISES
   *    monotonically with nprobe — 49/60 exactly at nprobe = 1
   *    (candidate starvation: the home cell offers only 49 mates),
   *    → ~0.94–0.98 at 2, → ~1 at 4 — a ranking regression now MOVES
   *    the number;
   *  - probed-cell recall sits at ~1.0 for nprobe ≥ 2 (the PQ-
   *    representability argument above — ADC distances are exact on
   *    pattern residuals), isolating coarse-quantizer coverage from
   *    PQ fidelity the way the FAISS decomposition intends.
   *
   * Exactness: base floats cast to double (exact), ONE IEEE add per
   * dimension of a two-decimal literal — the oracle's replay is
   * bit-identical, and the (base + A) − base residual reconstruction
   * error (~1e-16) sits 12 orders under the e4 quantization step of
   * the Lloyd means, so training reproduces the patterns exactly.
   *
   * Shape at 100 TB: the anchor is the %50 row of the vector's OWN
   * block, so no second relation is needed — a window over the block
   * key propagates the anchor embedding with ONE corpus shuffle on
   * _aid (hash exchange + block-local sort), strictly cheaper than the
   * two shapes it replaces: a broadcast of the |corpus|/50 anchor side
   * (data-DEPENDENT — the round-15 census class, an OOM under a static
   * misestimate) and a merge equi-join (TWO exchanges + two sorts).
   * The anchor aggregate is `max` over the when()-guard, not `first`:
   * max over array<double> is order-INSENSITIVE (null-ignoring, and
   * arrays of orderable types are orderable), so the selection is
   * structurally deterministic even if a future id mapping ever let
   * more than one row per block satisfy the %50 guard — with exactly
   * one qualifying row (the invariant today) the two agree, but
   * `first` over an unordered window would turn such a change into
   * silent nondeterminism rather than a stable (if unexpected) pick.
   * Blocks without an anchor row (the 10× replica corpus's mapped
   * replicas) drop via the null filter, matching the old inner join.
   * Patterns and signs are literal constants unrolled at plan build.
   * The output is array<double>.
   */
  def plantedEmbeddings(e: DataFrame): DataFrame = {
    val byBlock = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_aid"))
    val withPat = (0 until 4).foldLeft(
      e.select(col("vec_id"), col("label"), col("embedding"))
        .withColumn("_aid", expr("(vec_id div 50) * 50"))) { (df, s) =>
      df.withColumn(s"_p$s", expr(plantedPatternSql(s, "div")))
    }
      .withColumn("_aemb", max(
        when(col("vec_id") % 50 === 0, col("embedding"))).over(byBlock))
      .filter(col("_aemb").isNotNull)
    val dims = (0 until 64).map { i =>
      val s = i / 16
      val jit = when(col("vec_id") % 50 === 0, lit(0.0))
        .otherwise((0 until 3).foldRight(
          lit(plantedAmp * plantedSigma(3, i)): Column) { (p, rest) =>
          when(col(s"_p$s") === p, lit(plantedAmp * plantedSigma(p, i)))
            .otherwise(rest)
        })
      (element_at(col("_aemb"), i + 1).cast("double") + jit).as(s"_d$i")
    }
    withPat
      .select(col("vec_id"), col("label"), array(dims: _*).as("embedding"))
  }
}
