package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * P123 — graph-based ANN: a deterministic hierarchical small-world
 * index (Malkov & Yashunin 2016's HNSW recipe, made batch-buildable)
 * with a greedy beam search and a recall@k audit — the index family
 * production vector search defaults to, completing the IVF (p14/p92) /
 * PQ-ADC (p93) / SQ8 (p119/p122) surface.
 *
 * Determinism replaces HNSW's randomness everywhere so any engine
 * rebuilds the identical graph:
 *  - every embedding is e3-quantized ONCE — `floor(v·10³+0.5)` per
 *    component in DOUBLE (pure IEEE, engine-portable) — to an
 *    `array<long>` codes column, and every distance anywhere in the
 *    pipeline (cell assignment, cell adjacency, neighbor lists, the
 *    walk, the exact audit side) is the codegen'd EXACT integer Σd²
 *    kernel [[GraftFunctions.l2SqLong]] over those codes. No float
 *    comparison exists in the index or the audit;
 *  - the level draw is the md5-u32 geometric rule u32 < 2³²/4^l
 *    (P(level ≥ l) = 4⁻ˡ, the paper's mL = 1/ln 4) instead of
 *    floor(−ln(U)·mL);
 *  - the coarse cells are the nearest centroid by INTEGER distance
 *    (ties to the lowest centroid id) — the p61 IVF-cell candidate
 *    bound that keeps neighbor selection ~N^1.5, never all-pairs;
 *  - neighbor lists are the M nearest nodes (level ≥ l) from the
 *    node's cell or an adjacent cell, symmetrized and DEGREE-CAPPED
 *    at 2M (the paper's Mmax: the bidirectional union re-ranked per
 *    node by (distance, id), 2M closest kept) — hub degree is bounded
 *    at any corpus size, so the beam fan-out is ≤ |frontier|·2M;
 *  - insertion order disappears: the whole level-l graph is one
 *    cell-keyed pair join + k-bounded top-M aggregate over nodes with
 *    level ≥ l.
 *
 * Search is the paper's two-phase walk with FIXED superstep counts so
 * the oracle can unroll it as literal SQL (the p83 convention): start
 * at the global max-level node (ties to the smallest id), `hopsPerLevel`
 * greedy hops per upper level (current ∪ its level-l neighbors, keep
 * the closest), then `beamSteps` beam expansions over the level-0 graph
 * keeping the ef closest visited nodes, and finally top-k from the
 * beam. The audit reports per-query recall against the exact top-k
 * under the SAME integer metric (the p122 pattern; self excluded on
 * both sides). Each superstep's frontier (|queries|·ef rows) is
 * localCheckpoint'd so its logical plan stays constant-size — the p83
 * materialize-per-superstep discipline, with lineage truncation.
 *
 * Shape at 100 TB: quantization is a projection; assignment is one
 * |corpus|×|centroids| broadcast pass (no corpus shuffle); each level
 * graph is the p61 cell-bounded pair join (~N^1.5 with √N cells,
 * broadcast cell-adjacency); the search state is |queries|·ef rows
 * joining a broadcast frontier against the corpus by vec_id per
 * superstep. The exact side is the brute-force audit class (p92/p122)
 * — bounded by |queries| and present to MEASURE the graph, not to
 * serve traffic.
 */
object Hnsw {

  /** e3 integer codes: each float component quantized ONCE via
   * floor(v·10³ + 0.5) in DOUBLE. For 64-dim unit-ish embeddings every
   * code is ≤ ~10⁴, so any pairwise Σd² ≤ ~10⁸·64 — far inside LONG
   * (the kernel hard-fails on overflow rather than wrapping). */
  def q3Codes(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000 + 0.5).cast("long"))

  /** md5-u32 geometric level draw: level = |{l ∈ 1..maxLevel :
   * u32 < 2³²/4ˡ}|. */
  def withLevel(vecs: DataFrame, maxLevel: Int): DataFrame = {
    val u32 = expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8)" +
      ", 16, 10) AS BIGINT)")
    vecs.withColumn("level",
      (1 to maxLevel).map(l =>
        when(u32 < lit(4294967296L / (1L << (2 * l))), 1).otherwise(0))
        .reduce(_ + _))
  }

  /** Nearest-centroid cell per vector by EXACT integer distance (ties
   * to the lowest centroid id) — one broadcast pass, no corpus
   * shuffle. Input `coded` has (vec_id, codes); `qcents` has
   * (centroid_id, ccodes). */
  def assignCells(coded: DataFrame, qcents: DataFrame): DataFrame =
    coded.crossJoin(broadcast(qcents))
      .withColumn("_d", GraftFunctions.l2SqLong(col("codes"), col("ccodes")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("centroid_id"), struct(col("_d"), col("centroid_id")))
        .as("cluster"),
        first(col("codes")).as("codes"))

  /** The cell-adjacency relation: every cell plus its `adj` nearest
   * OTHER cells by integer centroid distance — the candidate bound that
   * keeps the graph CONNECTED across cells (a purely cell-local graph
   * is a disjoint union of per-cell components, and the first build of
   * this index measured recall 0.07 exactly because the walk could
   * never leave the entry's cell). Centroid-scale: |C|·(adj+1) rows. */
  def cellAdjacency(qcents: DataFrame, adj: Int): DataFrame = {
    val w = Window.partitionBy(col("cell")).orderBy(col("cdist"),
      col("cand_cell"))
    val near = qcents.as("x").join(qcents.as("y"),
        col("x.centroid_id") =!= col("y.centroid_id"))
      .select(col("x.centroid_id").as("cell"),
        col("y.centroid_id").as("cand_cell"),
        GraftFunctions.l2SqLong(col("x.ccodes"), col("y.ccodes"))
          .as("cdist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= adj)
      .select(col("cell"), col("cand_cell"))
    near.unionByName(qcents.select(col("centroid_id").as("cell"),
      col("centroid_id").as("cand_cell")))
  }

  /** The level-l neighbor lists: top-M nodes with level ≥ l from the
   * node's cell OR an adjacent cell, by (integer distance, id),
   * symmetrized and then DEGREE-CAPPED at 2M — the paper's Mmax: the
   * bidirectional union is re-ranked per node by (distance, id) and
   * only the 2M closest kept, so hub in-degree cannot grow with cell
   * size and every beam superstep fans out ≤ |frontier|·2M at ANY
   * corpus scale (the uncapped graph measured 188× wall at the 100×
   * rehearsal precisely because reverse-pick degree grew with the
   * cells). The cap can drop one direction of an edge — the paper's
   * pruned graph is directed too. `assigned` has (vec_id, cluster,
   * codes, level). */
  def levelEdges(assigned: DataFrame, cellAdj: DataFrame, l: Int,
      m: Int): DataFrame =
    levelEdgesD(assigned, cellAdj, l, m).select(col("src"), col("dst"))

  /** [[levelEdges]] with the ranking distance retained — the append
   * path ([[appendAudit]]) needs it to re-apply the Mmax cap after
   * merging new edges into the frozen graph. */
  def levelEdgesD(assigned: DataFrame, cellAdj: DataFrame, l: Int,
      m: Int): DataFrame = {
    val nodes = assigned.filter(col("level") >= l)
      .select(col("vec_id"), col("cluster"), col("codes"))
    // top-M by the k-bounded MAP-SIDE aggregate, not a window: the pair
    // relation is the ~N^1.5 surface — a window would shuffle-and-sort
    // every pair row, while min_k_pairs ships ≤ M pairs per (src,
    // partition) and never sorts (measured at the 100× rehearsal: the
    // level-0 build's exchange shrinks from ~900M rows to ~node-scale)
    val top = nodes.as("a")
      .join(broadcast(cellAdj), col("a.cluster") === col("cell"))
      .join(nodes.as("b"),
        col("cand_cell") === col("b.cluster") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        GraftFunctions.l2SqLong(col("a.codes"), col("b.codes")).as("dist"))
      .groupBy(col("src"))
      .agg(GraftFunctions.minKPairs(struct(col("dist"), col("dst")), m)
        .as("tk"))
      .select(col("src"), explode(col("tk")).as("p"))
      .select(col("src"), col("p.dst").as("dst"), col("p.dist").as("dist"))
    // the dedup of the symmetrized union ((a,b) present in both
    // directions' top-M yields the same (src, dst, dist) row twice)
    // happens INSIDE the k-bounded aggregate (the SET form), not as a
    // .distinct() — which would shuffle the whole node×2M edge relation
    // once more just to collapse those duplicates. Same relation, one
    // exchange fewer per level build (guide §2.4).
    top.unionByName(top.select(col("dst").as("src"), col("src").as("dst"),
        col("dist")))
      .groupBy(col("src"))
      .agg(GraftFunctions.minKPairsDistinct(struct(col("dist"), col("dst")),
        2 * m).as("tk"))
      .select(col("src"), explode(col("tk")).as("p"))
      .select(col("src"), col("p.dst").as("dst"), col("p.dist").as("dist"))
  }

  /** The per-level cell adjacencies as ONE relation keyed by `glevel`
   * (the graph level — named apart from the node-level column): level
   * l's adjacency is [[cellAdjacency]] at width `cellAdj·4ˡ`. Built for
   * the all-levels edge builds below, broadcast once instead of once
   * per level. */
  private def cellAdjacencyAll(qcents: DataFrame, maxLevel: Int,
      cellAdj: Int): DataFrame =
    (0 to maxLevel).map { l =>
      cellAdjacency(qcents, cellAdj << (2 * l))
        .select(lit(l).as("glevel"), col("cell"), col("cand_cell"))
    }.reduce(_.unionByName(_))

  /** ALL levels' [[levelEdgesD]] relations in ONE DataFrame keyed by
   * `level` — row-for-row identical per level to the per-level builds
   * (HnswSpec pins the equivalence), but executed as a single
   * aggregate chain: one exchange per build stage instead of one per
   * (stage × level), so the job/stage count of the audits stops
   * scaling with maxLevel (r20 verdict item 5 — the fixed per-job
   * latency of 3 sequential level builds was the measurable cost at
   * gate scale, and the unioned exchanges carry the same total bytes).
   * The level-l slice pairs nodes with level ≥ l through the level-l
   * adjacency, exactly as [[levelEdgesD]] does. */
  def levelEdgesAllD(assigned: DataFrame, qcents: DataFrame,
      maxLevel: Int, m: Int, cellAdj: Int): DataFrame = {
    val adjAll = cellAdjacencyAll(qcents, maxLevel, cellAdj)
    val nodes = assigned.select(col("vec_id"), col("cluster"),
      col("codes"), col("level"))
    val top = nodes.as("a")
      .join(broadcast(adjAll),
        col("a.cluster") === col("cell") && col("a.level") >= col("glevel"))
      .join(nodes.as("b"),
        col("cand_cell") === col("b.cluster") &&
          col("b.level") >= col("glevel") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("glevel").as("level"), col("a.vec_id").as("src"),
        col("b.vec_id").as("dst"),
        GraftFunctions.l2SqLong(col("a.codes"), col("b.codes")).as("dist"))
      .groupBy(col("level"), col("src"))
      .agg(GraftFunctions.minKPairs(struct(col("dist"), col("dst")), m)
        .as("tk"))
      .select(col("level"), col("src"), explode(col("tk")).as("p"))
      .select(col("level"), col("src"), col("p.dst").as("dst"),
        col("p.dist").as("dist"))
    top.unionByName(top.select(col("level"), col("dst").as("src"),
        col("src").as("dst"), col("dist")))
      .groupBy(col("level"), col("src"))
      .agg(GraftFunctions.minKPairsDistinct(struct(col("dist"), col("dst")),
        2 * m).as("tk"))
      .select(col("level"), col("src"), explode(col("tk")).as("p"))
      .select(col("level"), col("src"), col("p.dst").as("dst"),
        col("p.dist").as("dist"))
  }

  /** ALL levels' [[newToBaseEdges]] relations in ONE DataFrame keyed by
   * `level` — the batch-parallel insert's neighbor selection, executed
   * as a single chain (same union rationale as [[levelEdgesAllD]]).
   * ONE definition consumed by both the one-shot [[appendAudit]] and
   * the persisted-table path ([[appendEdgeRows]]), preserving the
   * row-for-row parity StreamingSpec "hnsw-append-table-restart"
   * requires. */
  def newToBaseEdgesAllD(batchNodes: DataFrame, baseNodes: DataFrame,
      qcents: DataFrame, maxLevel: Int, m: Int, cellAdj: Int): DataFrame = {
    val adjAll = cellAdjacencyAll(qcents, maxLevel, cellAdj)
    val nl = batchNodes.select(col("vec_id"), col("cluster"),
      col("codes"), col("level"))
    val bl = baseNodes.select(col("vec_id"), col("cluster"),
      col("codes"), col("level"))
    nl.as("a")
      .join(broadcast(adjAll),
        col("a.cluster") === col("cell") && col("a.level") >= col("glevel"))
      .join(bl.as("b"),
        col("cand_cell") === col("b.cluster") &&
          col("b.level") >= col("glevel"))
      .select(col("glevel").as("level"), col("a.vec_id").as("src"),
        col("b.vec_id").as("dst"),
        GraftFunctions.l2SqLong(col("a.codes"), col("b.codes")).as("dist"))
      .groupBy(col("level"), col("src"))
      .agg(GraftFunctions.minKPairs(struct(col("dist"), col("dst")), m)
        .as("tk"))
      .select(col("level"), col("src"), explode(col("tk")).as("p"))
      .select(col("level"), col("src"), col("p.dst").as("dst"),
        col("p.dist").as("dist"))
  }

  /** Shared corpus preparation for [[recallAudit]] / [[appendAudit]]:
   * the e3-coded, cell-assigned, level-drawn node relation
   * (vec_id, cluster, codes, level). A pure function of
   * (vecs, centroids, maxLevel), so a harness running SEVERAL audits
   * over the same corpus (p123's fresh build and p128's append audit
   * share it verbatim) can memoize it run-scoped and pass it via
   * `preAssigned` — the q3 transform and the |corpus|×|centroids|
   * assignment pass then run once per run instead of once per audit.
   * The intermediate `coded` is query-scope tracked here: q3Codes is an
   * interpreted HOF and projection collapse would otherwise inline it
   * into the assignment cross join, recomputing the 64-element
   * transform once PER PAIR (×|centroids|) instead of once per row. */
  def assignedNodes(vecs: DataFrame, centroids: DataFrame,
      maxLevel: Int): DataFrame = {
    val qcents = broadcast(centroids.select(col("centroid_id"),
      q3Codes(col("cembedding")).as("ccodes")))
    val coded = graft.CacheScope.track(vecs.select(col("vec_id"),
      q3Codes(col("embedding")).as("codes")))
    withLevel(assignCells(coded, qcents), maxLevel)
  }

  /**
   * Build + search + audit in one relation: per query (vec_id <
   * queryMax), the hit count and recall@k of the beam-searched top-k
   * against the exact integer-metric top-k. `preAssigned` (when given)
   * must be [[assignedNodes]] of the same (vecs, centroids, maxLevel)
   * — the run-scoped sharing hook; every downstream relation (codes,
   * queries, the exact side) projects off it, so a cached handoff
   * removes the corpus-scale preparation entirely.
   */
  def recallAudit(vecs: DataFrame, centroids: DataFrame, queryMax: Long,
      m: Int, ef: Int, k: Int, maxLevel: Int, beamSteps: Int,
      cellAdj: Int = 2, hopsPerLevel: Int = 2,
      preAssigned: Option[DataFrame] = None): DataFrame = {
    require(m > 0 && ef >= k && k > 0 && maxLevel >= 1 && beamSteps >= 1)
    val qcents = broadcast(centroids.select(col("centroid_id"),
      q3Codes(col("cembedding")).as("ccodes")))
    val assigned = preAssigned.getOrElse(graft.CacheScope.track(
      assignedNodes(vecs, centroids, maxLevel)))
    val coded = assigned.select(col("vec_id"), col("codes"))
    val nodeCodes = assigned.select(col("vec_id").as("node_id"),
      col("codes").as("ncodes"))
    // Per-level cell adjacency widens as cellAdj·4ˡ: the level-l node
    // density shrinks by 4ˡ (the geometric draw), so the candidate
    // count per node stays ~constant while the REACH of a level-l link
    // grows — exactly HNSW's long-range upper layers. A flat adjacency
    // makes every layer equally myopic and the greedy descent can never
    // cross the corpus (measured: recall 0.66 → 1.00 at 2,000 vectors).
    // localCheckpoint (lazy), not persist: every walk superstep's plan
    // re-embeds the consumed edge relations, and AQE re-optimizes the
    // WHOLE remaining logical plan after each stage — with full edge
    // lineage the analyzer/optimizer walks the pair-join subtree once
    // per superstep per replan (driver-side, serial). Truncating to a
    // LogicalRDD keeps each superstep's plan constant-size (the p83
    // discipline already applied to the frontier). The materialized
    // relation is |nodes|·2M-bounded — the same size class the old
    // MEMORY_AND_DISK persist stored. Scale honesty: a localCheckpoint'd
    // relation (here and in the walk supersteps) has NO lineage to
    // recompute from — on a real cluster a lost executor fails the
    // query instead of recomputing the block. Fine for local[*]; at the
    // 100 TB design point use reliable checkpointing (or accept the
    // retry) — the constant-size-plan trade is deliberate and disclosed.
    // All levels build as ONE union chain ([[levelEdgesAllD]], r21):
    // one exchange per build stage instead of one per (stage × level),
    // one checkpointed relation instead of maxLevel+1 — per-level
    // slices are narrow filters over it.
    val edgesAll = levelEdgesAllD(assigned, qcents, maxLevel, m, cellAdj)
      .select(col("level"), col("src"), col("dst"))
      .localCheckpoint(false)
    val edges = (0 to maxLevel).map { l =>
      l -> edgesAll.filter(col("level") === l)
        .select(col("src"), col("dst"))
    }.toMap

    val queries = broadcast(graft.CacheScope.track(
      coded.filter(col("vec_id") < queryMax)
        .select(col("vec_id").as("qid"), col("codes").as("qcodes"))))
    // entry: the global max-level node, ties to the smallest id
    val entry = broadcast(assigned
      .orderBy(col("level").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("node")))
    recallOf(beamSearch(edges, queries, entry, nodeCodes, maxLevel,
      hopsPerLevel, beamSteps, ef, k), coded, queries, k)
  }

  /** The two-phase HNSW walk over a prebuilt per-level edge map: fixed
   * greedy hops down the upper levels, then a fixed-superstep ef-beam
   * over level 0; returns each query's top-k by (integer distance, id)
   * as (query_id, neighbor_id). Shared by the fresh-build audit
   * ([[recallAudit]]) and the append audit ([[appendAudit]]).
   *
   * Each superstep's |queries|·ef-row frontier is (lazily)
   * localCheckpoint'd: persist alone leaves the LOGICAL plan tree
   * doubling per superstep (each step references the previous twice —
   * union + join), and every action then pays an exponential
   * analyze/explainString even though execution reuses the cache.
   * Truncating lineage to a LogicalRDD keeps the per-step plan
   * constant-size — the frontier is tiny, so the materialization
   * itself is free. The broadcast hints matter the same way: the
   * frontier is a LogicalRDD with no size stats, and without the hint
   * every superstep would sort-merge-join the corpus instead of
   * broadcasting the frontier. Every "rank per query, keep n" is the
   * k-bounded map-side aggregate (min_by for n=1, min_k_pairs
   * otherwise) — identical selection to a (dist, node)-ordered
   * row_number window, without shuffling or sorting candidate rows. */
  private def beamSearch(edges: Map[Int, DataFrame], queries: DataFrame,
      entry: DataFrame, nodeCodes: DataFrame, maxLevel: Int,
      hopsPerLevel: Int, beamSteps: Int, ef: Int, k: Int): DataFrame = {
    // No .distinct() on the expanded frontier: several frontier nodes
    // can point at the same dst, but every copy scores to the SAME
    // (dist, node), and the consumers are duplicate-insensitive —
    // min_by for the greedy hop, the SET-form min-k for the beam — so
    // the dedup exchange per superstep is pure overhead. The broadcast
    // stays |queries|·ef·(2M+1)-bounded either way.
    def scored(cand: DataFrame): DataFrame =
      broadcast(cand)
        .join(nodeCodes, col("node") === col("node_id"))
        .join(queries, Seq("qid"))
        .select(col("qid"), col("node"),
          GraftFunctions.l2SqLong(col("qcodes"), col("ncodes")).as("dist"))

    var cur: DataFrame =
      queries.select(col("qid")).crossJoin(entry).localCheckpoint(false)
    for (l <- maxLevel to 1 by -1; _ <- 1 to hopsPerLevel) {
      val expanded = cur.unionByName(
        broadcast(cur).join(edges(l), col("node") === col("src"))
          .select(col("qid"), col("dst").as("node")))
      cur = scored(expanded).groupBy(col("qid"))
        .agg(min_by(col("node"), struct(col("dist"), col("node")))
          .as("node"))
        .localCheckpoint(false)
    }
    // level-0 beam: expand neighbors, keep the ef closest visited
    var beam = cur
    for (_ <- 1 to beamSteps) {
      val expanded = beam.unionByName(
        broadcast(beam).join(edges(0), col("node") === col("src"))
          .select(col("qid"), col("dst").as("node")))
      beam = keepK(scored(expanded), ef).localCheckpoint(false)
    }
    keepK(scored(beam).filter(col("node") =!= col("qid")), k)
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"))
  }

  /** Bounded "keep the n closest per query" over (qid, node, dist) —
   * SET form, so duplicate (dist, node) rows from the undeduped
   * frontier expansion can never occupy two beam slots. */
  private def keepK(scoredDf: DataFrame, n: Int): DataFrame =
    scoredDf.groupBy(col("qid"))
      .agg(GraftFunctions.minKPairsDistinct(struct(col("dist"), col("node")),
        n).as("tk"))
      .select(col("qid"), explode(col("tk")).as("p"))
      .select(col("qid"), col("p.dst").as("node"))

  /** Per-query hits/recall of `approx` against the exact integer-metric
   * top-k over `coded` (self excluded on both sides). */
  private def recallOf(approx: DataFrame, coded: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val exact = coded.crossJoin(queries)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"),
        GraftFunctions.l2SqLong(col("qcodes"), col("codes")).as("dist"),
        col("vec_id").as("node"))
      .transform(keepK(_, k))
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"))
    queries.select(col("qid").as("query_id"))
      .join(exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits")),
        Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_ppm", expr(s"(n_hits * 1000000) div $k"))
  }

  /**
   * Append-WITHOUT-rebuild audit — the index-maintenance question next
   * to p120's IVF append: freeze the graph built on the base corpus
   * (`batch` = false rows), bulk-insert the batch, and measure what the
   * incremental graph costs in recall and how hard the Mmax cap had to
   * prune.
   *
   * Bulk-append semantics (the batch-PARALLEL form of the paper's
   * one-at-a-time INSERT, which is inherently sequential and therefore
   * not the operation a distributed engine runs): the coarse quantizer
   * is FROZEN (same centroids — the p120 convention), every new node
   * draws its level from the same md5 geometric rule, and selects its
   * top-M neighbors per level among BASE nodes only (cell-bounded, the
   * build's candidate rule) — new→new edges are deliberately absent,
   * which is exactly the structural debt an append leaves and the
   * recall number quantifies. Reverse (base→new) edges are added and
   * every touched adjacency list is re-capped at Mmax = 2M by (integer
   * distance, id) — the same cap as the build, so hub degree stays
   * bounded no matter how many batches land. The audit output is one
   * row per query (hits + recall against the exact FULL-corpus top-k —
   * appended nodes are first-class search results) plus three
   * append-census columns (constant across rows): batch size, appended
   * directed-edge count, and how many (level, node) adjacency lists
   * overflowed Mmax and got pruned.
   *
   * Shape at 100 TB: the new→base candidate relation is
   * |batch|-bounded on the left (a 10% batch keeps it well under the
   * build's ~N^1.5 pair surface), the merge + re-cap is one node-scale
   * aggregation per level, and the walk is the same
   * broadcast-frontier supersteps as [[recallAudit]] — an append never
   * re-touches the base-pair relation, which is the point.
   */
  def appendAudit(vecs: DataFrame, centroids: DataFrame,
      batch: Column, queryMax: Long, m: Int, ef: Int, k: Int,
      maxLevel: Int, beamSteps: Int, cellAdj: Int = 2,
      hopsPerLevel: Int = 2, preAssigned: Option[DataFrame] = None):
      DataFrame = {
    require(m > 0 && ef >= k && k > 0 && maxLevel >= 1 && beamSteps >= 1)
    val qcents = broadcast(centroids.select(col("centroid_id"),
      q3Codes(col("cembedding")).as("ccodes")))
    // the is_new tag is a projection over the (possibly shared, cached)
    // assigned relation — the batch predicate only reads vec_id
    val assigned = preAssigned.getOrElse(graft.CacheScope.track(
        assignedNodes(vecs, centroids, maxLevel)))
      .withColumn("is_new", batch)
    val coded = assigned.select(col("vec_id"), col("codes"))
    val base = assigned.filter(!col("is_new"))
    val fresh = assigned.filter(col("is_new"))
    val nodeCodes = assigned.select(col("vec_id").as("node_id"),
      col("codes").as("ncodes"))

    // ALL levels' frozen graphs + new edges + re-cap as ONE union chain
    // keyed by level ([[levelEdgesAllD]]/[[newToBaseEdgesAllD]], r21) —
    // the per-level sequential builds paid fixed per-job latency ×
    // (stages × levels); the unioned chain runs the same exchanges once
    // with the same total bytes. Relations stay tracked (persist, NOT
    // localCheckpoint) for the same reason as before: newOut fans out
    // three ways (precap twice + the census), and truncating these
    // lineages would hide the builds' mod-50 broadcast evidence from
    // SurfaceWalk's static-broadcast census (the r20 A/B measured
    // truncation at only ~14% and rejected it).
    val frozenAll = levelEdgesAllD(base, qcents, maxLevel, m, cellAdj)
    val newOutAll = graft.CacheScope.track(
      newToBaseEdgesAllD(fresh, base, qcents, maxLevel, m, cellAdj))
    val precapAll = graft.CacheScope.track(frozenAll
      .unionByName(newOutAll)
      .unionByName(newOutAll.select(col("level"), col("dst").as("src"),
        col("src").as("dst"), col("dist"))))
    val mergedAll = graft.CacheScope.track(precapAll
      .groupBy(col("level"), col("src"))
      .agg(GraftFunctions.minKPairs(struct(col("dist"), col("dst")),
        2 * m).as("tk"))
      .select(col("level"), col("src"), explode(col("tk")).as("p"))
      .select(col("level"), col("src"), col("p.dst").as("dst")))
    val edges = (0 to maxLevel).map { l =>
      l -> mergedAll.filter(col("level") === l)
        .select(col("src"), col("dst"))
    }.toMap

    val queries = broadcast(graft.CacheScope.track(
      coded.filter(col("vec_id") < queryMax)
        .select(col("vec_id").as("qid"), col("codes").as("qcodes"))))
    val entry = broadcast(assigned
      .orderBy(col("level").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("node")))
    val audit = recallOf(beamSearch(edges, queries, entry, nodeCodes,
      maxLevel, hopsPerLevel, beamSteps, ef, k), coded, queries, k)

    // append census: batch size, appended directed edges (out + reverse),
    // and (level, node) lists the Mmax cap had to prune. Same values as
    // the old per-level sums (the outer sum() also keeps the columns'
    // nullable schema identical to the unioned-partial form it replaces).
    val nNew = fresh.agg(count(lit(1)).as("n_new_nodes"))
    val nAppended = newOutAll
      .agg((count(lit(1)) * 2).as("c"))
      .agg(sum(col("c")).as("n_appended_edges"))
    val nCapped = precapAll
      .groupBy(col("level"), col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") > 2 * m)
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_capped_lists"))
    audit
      .crossJoin(broadcast(nNew))
      .crossJoin(broadcast(nAppended))
      .crossJoin(broadcast(nCapped))
  }

  // ------------------------------------------------------------------
  // Persisted-graph-TABLE append — the streaming/deployed shape of
  // [[appendAudit]] (the check-32 LSH-index discipline applied to the
  // HNSW graph): the index state is TWO append-only parquet tables —
  //   nodes(vec_id, cluster, codes, level, is_new)
  //   edges(level, src, dst, dist, is_new)
  // — never driver variables or RDD lineage. The base build writes the
  // frozen capped per-level edges (with their ranking distance — the
  // Mmax cap is applied at READ time over the accumulated union, so an
  // append never rewrites a stored row); each micro-batch appends its
  // own node rows plus its new→base out-edges and their reverses.
  // Because every new node selects its neighbors among the FROZEN base
  // only (appendAudit's batch-parallel insert semantics), per-node
  // increments are independent of batching: the accumulated table after
  // ANY split of the batch rows equals the one-shot [[appendAudit]]
  // graph row for row, and [[auditFromTables]] over the grown tables
  // equals the one-shot audit relation exactly — the equality
  // StreamingSpec "hnsw-append-table-restart" asserts across a
  // mid-stream restart.
  // ------------------------------------------------------------------

  /** Node-table rows for `vecs` against frozen centroids: e3 codes, the
   * nearest-centroid cell, the md5-geometric level. Depends only on the
   * rows themselves + the broadcast centroids, so appending the result
   * to the node table is lineage-safe. */
  def nodeRows(vecs: DataFrame, qcents: DataFrame, maxLevel: Int,
      isNew: Boolean): DataFrame = {
    // tracked for the same reason as assignedNodes: q3Codes is an
    // interpreted HOF — uncached, projection collapse would inline it
    // into assignCells' cross join and re-run the 64-element transform
    // once per (row, centroid) pair
    val coded = graft.CacheScope.track(vecs.select(col("vec_id"),
      q3Codes(col("embedding")).as("codes")))
    withLevel(assignCells(coded, qcents), maxLevel)
      .withColumn("is_new", lit(isNew))
      .select(col("vec_id"), col("cluster"), col("codes"), col("level"),
        col("is_new"))
  }

  /** The frozen base graph as edge-table rows: per level the capped
   * symmetrized neighbor lists ([[levelEdgesD]]) with their ranking
   * distance, tagged by level. `baseNodes` has (vec_id, cluster, codes,
   * level). */
  def baseEdgeRows(baseNodes: DataFrame, qcents: DataFrame, maxLevel: Int,
      m: Int, cellAdj: Int): DataFrame =
    levelEdgesAllD(baseNodes, qcents, maxLevel, m, cellAdj)
      .select(col("level"), col("src"), col("dst"), col("dist"),
        lit(false).as("is_new"))

  /** One ingest increment: the batch's per-level new→base top-M
   * out-edges plus their reverses (appendAudit's newOut relation,
   * restricted to this batch). `baseNodes` is the frozen base node set
   * (is_new = false rows of the node table); `batchNodes` the batch's
   * own node rows ([[nodeRows]] output). The result's lineage scans the
   * node TABLE (via baseNodes), so materialize (localCheckpoint) before
   * appending it to the edge table. The selection is
   * [[newToBaseEdgesAllD]] — the SAME definition [[appendAudit]]
   * consumes, so the graphs stay row-for-row identical (StreamingSpec
   * "hnsw-append-table-restart"). */
  def appendEdgeRows(baseNodes: DataFrame, batchNodes: DataFrame,
      qcents: DataFrame, maxLevel: Int, m: Int, cellAdj: Int): DataFrame = {
    val newOut = newToBaseEdgesAllD(batchNodes, baseNodes, qcents,
      maxLevel, m, cellAdj)
    newOut.unionByName(newOut.select(col("level"), col("dst").as("src"),
        col("src").as("dst"), col("dist")))
      .select(col("level"), col("src"), col("dst"), col("dist"),
        lit(true).as("is_new"))
  }

  /** Walk + recall + append-census over the persisted tables — the
   * table-backed twin of [[appendAudit]]'s audit stage. The Mmax cap is
   * applied here, at read time: per (level, src) the 2M closest stored
   * edges by (dist, dst) form the current graph (the stored table IS
   * the one-shot precap relation, so the capped read equals the
   * one-shot merged graph). Census columns match [[appendAudit]]:
   * is_new node count, is_new edge-row count (out + reverse), and
   * (level, src) lists past 2M. */
  def auditFromTables(nodes: DataFrame, edgeTable: DataFrame,
      queryMax: Long, m: Int, ef: Int, k: Int, maxLevel: Int,
      beamSteps: Int, hopsPerLevel: Int): DataFrame = {
    val coded = graft.CacheScope.track(
      nodes.select(col("vec_id"), col("codes")))
    val nodeCodes = coded.select(col("vec_id").as("node_id"),
      col("codes").as("ncodes"))
    val et = graft.CacheScope.track(edgeTable)
    val edges = (0 to maxLevel).map { l =>
      l -> graft.CacheScope.track(et.filter(col("level") === l)
        .groupBy(col("src"))
        .agg(GraftFunctions.minKPairs(struct(col("dist"), col("dst")),
          2 * m).as("tk"))
        .select(col("src"), explode(col("tk")).as("p"))
        .select(col("src"), col("p.dst").as("dst")))
    }.toMap
    val queries = broadcast(graft.CacheScope.track(
      coded.filter(col("vec_id") < queryMax)
        .select(col("vec_id").as("qid"), col("codes").as("qcodes"))))
    val entry = broadcast(nodes
      .orderBy(col("level").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("node")))
    val audit = recallOf(beamSearch(edges, queries, entry, nodeCodes,
      maxLevel, hopsPerLevel, beamSteps, ef, k), coded, queries, k)
    val nNew = nodes.filter(col("is_new"))
      .agg(count(lit(1)).as("n_new_nodes"))
    val nAppended = et.filter(col("is_new"))
      .agg(count(lit(1)).as("n_appended_edges"))
    val nCapped = et.groupBy(col("level"), col("src"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") > 2 * m)
      .agg(count(lit(1)).as("n_capped_lists"))
    audit
      .crossJoin(broadcast(nNew))
      .crossJoin(broadcast(nAppended))
      .crossJoin(broadcast(nCapped))
  }

  /**
   * The DuckDB oracle for [[recallAudit]]: rebuilds levels, cells, every
   * level graph, and UNROLLS the fixed-superstep walk as literal SQL
   * (the p83 convention) — generated programmatically so the CTE chain
   * always matches the superstep counts. Every distance is the same
   * integer Σd² over the same e3 codes; the only IEEE arithmetic is the
   * per-component `floor(v·10³+0.5)` quantization, which is
   * engine-portable by the repo's exact-integer convention.
   */
  /** Integer Σd² between two pre-quantized BIGINT lists (DuckDB). */
  private def dSql(a: String, b: String, dims: Int): String =
    s"CAST(list_sum(list_transform(range(1, ${dims + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"

  def duckOracle(queryMax: Long, m: Int, ef: Int, k: Int, maxLevel: Int,
      beamSteps: Int, cellAdj: Int, hopsPerLevel: Int, dims: Int = 64,
      centEvery: Int = 50): String = {
    def d(a: String, b: String): String = dSql(a, b, dims)
    val levelSum = (1 to maxLevel).map(l =>
      s"(CASE WHEN u32 < ${4294967296L / (1L << (2 * l))} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val sb = new StringBuilder
    sb ++= s"""WITH qe AS MATERIALIZED (
      |  SELECT vec_id, list_transform(range(1, ${dims + 1}),
      |    i -> CAST(floor(embedding[i]::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |cent AS MATERIALIZED (SELECT vec_id AS cid, q AS cq FROM qe
      |         WHERE vec_id % $centEvery = 0),
      |asg AS MATERIALIZED (
      |  SELECT vec_id, cluster, q FROM (
      |    SELECT e.vec_id, c.cid AS cluster, e.q,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY ${d("e.q", "c.cq")}, c.cid) AS rn
      |    FROM qe e CROSS JOIN cent c) t WHERE rn = 1),
      |nodes AS MATERIALIZED (
      |  SELECT vec_id, cluster, q, $levelSum AS level FROM (
      |    SELECT vec_id, cluster, q,
      |      CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
      |        AS BIGINT) AS u32
      |    FROM asg) t),
      |""".stripMargin
    for (l <- 0 to maxLevel) {
      val adjL = cellAdj << (2 * l)
      sb ++= s"""cadj$l AS MATERIALIZED (
        |  SELECT cell, cand_cell FROM (
        |    SELECT x.cid AS cell, y.cid AS cand_cell,
        |           row_number() OVER (PARTITION BY x.cid
        |             ORDER BY ${d("x.cq", "y.cq")}, y.cid) AS rn
        |    FROM cent x JOIN cent y ON x.cid <> y.cid) t WHERE rn <= $adjL
        |  UNION ALL SELECT cid, cid FROM cent),
        |top$l AS MATERIALIZED (
        |  SELECT src, dst, d FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |           ${d("a.q", "b.q")} AS d,
        |           row_number() OVER (PARTITION BY a.vec_id
        |             ORDER BY ${d("a.q", "b.q")}, b.vec_id) AS rn
        |    FROM nodes a
        |    JOIN cadj$l ca ON ca.cell = a.cluster
        |    JOIN nodes b ON b.cluster = ca.cand_cell
        |      AND b.vec_id <> a.vec_id
        |    WHERE a.level >= $l AND b.level >= $l) t WHERE rn <= $m),
        |ed$l AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT src, dst,
        |           row_number() OVER (PARTITION BY src ORDER BY d, dst)
        |             AS rn
        |    FROM (SELECT DISTINCT src, dst, d FROM
        |      (SELECT src, dst, d FROM top$l
        |       UNION ALL SELECT dst AS src, src AS dst, d FROM top$l) u) s
        |  ) t WHERE rn <= ${2 * m}),
        |""".stripMargin
    }
    sb ++= s"""qd AS MATERIALIZED (
      |  SELECT qq.vec_id AS qid, e.vec_id AS node,
      |         ${d("qq.q", "e.q")} AS d
      |  FROM qe e CROSS JOIN
      |       (SELECT vec_id, q FROM qe WHERE vec_id < $queryMax) qq),
      |qids AS MATERIALIZED (SELECT DISTINCT qid FROM qd),
      |entry AS MATERIALIZED (SELECT vec_id AS node FROM nodes
      |          ORDER BY level DESC, vec_id LIMIT 1),
      |cur0 AS MATERIALIZED (SELECT qids.qid, entry.node FROM qids CROSS JOIN entry),
      |""".stripMargin
    // one CTE per walk superstep: greedy hop (keep 1) on the upper-level
    // graphs, then beam expansion (keep ef) on the level-0 graph
    var i = 0
    for (l <- maxLevel to 1 by -1; _ <- 1 to hopsPerLevel) {
      sb ++= walkStep(s"cur$i", s"cur${i + 1}", s"ed$l", keep = 1)
      i += 1
    }
    for (j <- 1 to beamSteps) {
      val prev = if (j == 1) s"cur$i" else s"b${j - 1}"
      sb ++= walkStep(prev, s"b$j", "ed0", keep = ef)
    }
    sb ++= s"""approx AS MATERIALIZED (
      |  SELECT qid AS query_id, node AS neighbor_id FROM (
      |    SELECT e.qid, e.node,
      |           row_number() OVER (PARTITION BY e.qid
      |             ORDER BY qd.d, e.node) AS rn
      |    FROM b$beamSteps e
      |    JOIN qd ON qd.qid = e.qid AND qd.node = e.node
      |    WHERE e.node <> e.qid) t WHERE rn <= $k),
      |exact AS MATERIALIZED (
      |  SELECT qid AS query_id, node AS neighbor_id FROM (
      |    SELECT qid, node,
      |           row_number() OVER (PARTITION BY qid ORDER BY d, node) AS rn
      |    FROM qd WHERE node <> qid) t WHERE rn <= $k),
      |hits AS MATERIALIZED (
      |  SELECT e.query_id, count(*) AS n
      |  FROM exact e JOIN approx a
      |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |  GROUP BY 1)
      |SELECT q.qid AS query_id,
      |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
      |       CAST((coalesce(h.n, 0) * 1000000) // $k AS BIGINT)
      |         AS recall_ppm
      |FROM qids q LEFT JOIN hits h ON h.query_id = q.qid
      |ORDER BY query_id""".stripMargin
    sb.toString
  }

  /**
   * The DuckDB oracle for [[appendAudit]]: same CTE skeleton as
   * [[duckOracle]], but the per-level graphs are built in the append's
   * two stages — frozen base edges (batch rows excluded from BOTH join
   * sides), then the batch's new→base top-M out-edges plus their
   * reverses, re-capped at 2M — and the final select carries the three
   * append-census columns next to each query's recall row. `batchSql`
   * is the batch predicate over the embeddings columns (e.g.
   * `vec_id % 10 = 5`), interpolated verbatim into the `nodes` CTE.
   */
  def duckOracleAppend(batchSql: String, queryMax: Long, m: Int, ef: Int,
      k: Int, maxLevel: Int, beamSteps: Int, cellAdj: Int,
      hopsPerLevel: Int, dims: Int = 64, centEvery: Int = 50): String = {
    def d(a: String, b: String): String = dSql(a, b, dims)
    val levelSum = (1 to maxLevel).map(l =>
      s"(CASE WHEN u32 < ${4294967296L / (1L << (2 * l))} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val sb = new StringBuilder
    sb ++= s"""WITH qe AS MATERIALIZED (
      |  SELECT vec_id, list_transform(range(1, ${dims + 1}),
      |    i -> CAST(floor(embedding[i]::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |cent AS MATERIALIZED (SELECT vec_id AS cid, q AS cq FROM qe
      |         WHERE vec_id % $centEvery = 0),
      |asg AS MATERIALIZED (
      |  SELECT vec_id, cluster, q FROM (
      |    SELECT e.vec_id, c.cid AS cluster, e.q,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY ${d("e.q", "c.cq")}, c.cid) AS rn
      |    FROM qe e CROSS JOIN cent c) t WHERE rn = 1),
      |nodes AS MATERIALIZED (
      |  SELECT vec_id, cluster, q, $levelSum AS level,
      |         ($batchSql) AS is_new FROM (
      |    SELECT vec_id, cluster, q,
      |      CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
      |        AS BIGINT) AS u32
      |    FROM asg) t),
      |""".stripMargin
    for (l <- 0 to maxLevel) {
      val adjL = cellAdj << (2 * l)
      sb ++= s"""cadj$l AS MATERIALIZED (
        |  SELECT cell, cand_cell FROM (
        |    SELECT x.cid AS cell, y.cid AS cand_cell,
        |           row_number() OVER (PARTITION BY x.cid
        |             ORDER BY ${d("x.cq", "y.cq")}, y.cid) AS rn
        |    FROM cent x JOIN cent y ON x.cid <> y.cid) t WHERE rn <= $adjL
        |  UNION ALL SELECT cid, cid FROM cent),
        |btop$l AS MATERIALIZED (
        |  SELECT src, dst, d FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |           ${d("a.q", "b.q")} AS d,
        |           row_number() OVER (PARTITION BY a.vec_id
        |             ORDER BY ${d("a.q", "b.q")}, b.vec_id) AS rn
        |    FROM nodes a
        |    JOIN cadj$l ca ON ca.cell = a.cluster
        |    JOIN nodes b ON b.cluster = ca.cand_cell
        |      AND b.vec_id <> a.vec_id
        |    WHERE a.level >= $l AND b.level >= $l
        |      AND NOT a.is_new AND NOT b.is_new) t WHERE rn <= $m),
        |bed$l AS MATERIALIZED (
        |  SELECT src, dst, d FROM (
        |    SELECT src, dst, d,
        |           row_number() OVER (PARTITION BY src ORDER BY d, dst)
        |             AS rn
        |    FROM (SELECT DISTINCT src, dst, d FROM
        |      (SELECT src, dst, d FROM btop$l
        |       UNION ALL SELECT dst AS src, src AS dst, d FROM btop$l) u) s
        |  ) t WHERE rn <= ${2 * m}),
        |ntop$l AS MATERIALIZED (
        |  SELECT src, dst, d FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |           ${d("a.q", "b.q")} AS d,
        |           row_number() OVER (PARTITION BY a.vec_id
        |             ORDER BY ${d("a.q", "b.q")}, b.vec_id) AS rn
        |    FROM nodes a
        |    JOIN cadj$l ca ON ca.cell = a.cluster
        |    JOIN nodes b ON b.cluster = ca.cand_cell
        |    WHERE a.level >= $l AND b.level >= $l
        |      AND a.is_new AND NOT b.is_new) t WHERE rn <= $m),
        |pre$l AS MATERIALIZED (
        |  SELECT src, dst, d FROM bed$l
        |  UNION ALL SELECT src, dst, d FROM ntop$l
        |  UNION ALL SELECT dst AS src, src AS dst, d FROM ntop$l),
        |med$l AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT src, dst,
        |           row_number() OVER (PARTITION BY src ORDER BY d, dst)
        |             AS rn
        |    FROM pre$l) t WHERE rn <= ${2 * m}),
        |""".stripMargin
    }
    val appendedSum = (0 to maxLevel)
      .map(l => s"(SELECT count(*) * 2 AS c FROM ntop$l)")
      .mkString(" UNION ALL ")
    val cappedSum = (0 to maxLevel)
      .map(l => s"(SELECT count(*) AS c FROM (SELECT src FROM pre$l " +
        s"GROUP BY src HAVING count(*) > ${2 * m}) x$l)")
      .mkString(" UNION ALL ")
    sb ++= s"""census AS MATERIALIZED (
      |  SELECT
      |    (SELECT count(*) FROM nodes WHERE is_new) AS n_new_nodes,
      |    (SELECT sum(c) FROM ($appendedSum) ae) AS n_appended_edges,
      |    (SELECT sum(c) FROM ($cappedSum) ce) AS n_capped_lists),
      |qd AS MATERIALIZED (
      |  SELECT qq.vec_id AS qid, e.vec_id AS node,
      |         ${d("qq.q", "e.q")} AS d
      |  FROM qe e CROSS JOIN
      |       (SELECT vec_id, q FROM qe WHERE vec_id < $queryMax) qq),
      |qids AS MATERIALIZED (SELECT DISTINCT qid FROM qd),
      |entry AS MATERIALIZED (SELECT vec_id AS node FROM nodes
      |          ORDER BY level DESC, vec_id LIMIT 1),
      |cur0 AS MATERIALIZED (SELECT qids.qid, entry.node FROM qids CROSS JOIN entry),
      |""".stripMargin
    var i = 0
    for (l <- maxLevel to 1 by -1; _ <- 1 to hopsPerLevel) {
      sb ++= walkStep(s"cur$i", s"cur${i + 1}", s"med$l", keep = 1)
      i += 1
    }
    for (j <- 1 to beamSteps) {
      val prev = if (j == 1) s"cur$i" else s"b${j - 1}"
      sb ++= walkStep(prev, s"b$j", "med0", keep = ef)
    }
    sb ++= s"""approx AS MATERIALIZED (
      |  SELECT qid AS query_id, node AS neighbor_id FROM (
      |    SELECT e.qid, e.node,
      |           row_number() OVER (PARTITION BY e.qid
      |             ORDER BY qd.d, e.node) AS rn
      |    FROM b$beamSteps e
      |    JOIN qd ON qd.qid = e.qid AND qd.node = e.node
      |    WHERE e.node <> e.qid) t WHERE rn <= $k),
      |exact AS MATERIALIZED (
      |  SELECT qid AS query_id, node AS neighbor_id FROM (
      |    SELECT qid, node,
      |           row_number() OVER (PARTITION BY qid ORDER BY d, node) AS rn
      |    FROM qd WHERE node <> qid) t WHERE rn <= $k),
      |hits AS MATERIALIZED (
      |  SELECT e.query_id, count(*) AS n
      |  FROM exact e JOIN approx a
      |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |  GROUP BY 1)
      |SELECT q.qid AS query_id,
      |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
      |       CAST((coalesce(h.n, 0) * 1000000) // $k AS BIGINT)
      |         AS recall_ppm,
      |       CAST(census.n_new_nodes AS BIGINT) AS n_new_nodes,
      |       CAST(census.n_appended_edges AS BIGINT) AS n_appended_edges,
      |       CAST(coalesce(census.n_capped_lists, 0) AS BIGINT)
      |         AS n_capped_lists
      |FROM qids q LEFT JOIN hits h ON h.query_id = q.qid
      |CROSS JOIN census
      |ORDER BY query_id""".stripMargin
    sb.toString
  }

  /** One unrolled walk superstep: frontier ∪ its `edges` neighbors,
   * re-scored against the precomputed query-distance relation `qd`,
   * keep the `keep` closest by (distance, node id). */
  private def walkStep(prev: String, name: String, edges: String,
      keep: Int): String =
    s"""$name AS MATERIALIZED (
      |  SELECT qid, node FROM (
      |    SELECT e.qid, e.node,
      |           row_number() OVER (PARTITION BY e.qid
      |             ORDER BY qd.d, e.node) AS rn
      |    FROM (SELECT DISTINCT qid, node FROM (
      |            SELECT qid, node FROM $prev
      |            UNION ALL
      |            SELECT c.qid, ed.dst AS node
      |            FROM $prev c JOIN $edges ed ON ed.src = c.node) u) e
      |    JOIN qd ON qd.qid = e.qid AND qd.node = e.node
      |  ) t WHERE rn ${if (keep == 1) "= 1" else s"<= $keep"}),
      |""".stripMargin
}
