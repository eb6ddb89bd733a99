package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the session-4 relational rows: the
 * scale story ("dimension sides broadcast, fact table shuffles only on
 * its keys, no accidental cartesian") must be visible in the executed
 * plan, not just claimed in scaladoc. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    try df.queryExecution.executedPlan.toString
    finally CacheScope.releaseAll()
  }

  test("q7: fact aggregates on its key; max and supplier sides broadcast") {
    val plan = planOf("q7_top_supplier")
    assert(!plan.contains("CartesianProduct"), plan)
    // no sort-merge join anywhere: the only joins are the 1-row max
    // (broadcast) and the supplier dim (broadcast)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q6: per-customer analytics stay parallel; only the ntile branch is global") {
    val plan = planOf("q6_window_suite")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // the quartile branch's deliberate single-partition sort serializes
    // only the (orderkey, price) projection…
    assert("Exchange SinglePartition".r.findAllIn(plan).size === 1, plan)
    // …while the per-customer windows and the join-back run behind hash
    // exchanges (composed in one frame Catalyst would instead reuse the
    // ntile's single partition for everything — the regression this pins)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 1, plan)
  }

  test("q6b: quartile cutoffs without a row-scale global sort") {
    val plan = planOf("q6b_quartile_cutoffs")
    assert(!plan.contains("CartesianProduct"), plan)
    // the production variant of q6's quartile: NO ntile anywhere — the
    // cutoffs come from the two-level order-statistic selection
    assert(!plan.contains("ntile"), plan)
    // single-partition exchanges exist ONLY for bounded relations: the
    // two histogram-scale cumulative windows (hundred-dollar buckets;
    // within-bucket cents) and the two 1-row aggregates (N, cutoffs) —
    // never the orders rows; q6's row-scale ntile sort is gone
    assert("Exchange SinglePartition".r.findAllIn(plan).size <= 4, plan)
    assert(!plan.matches("(?s).*Exchange SinglePartition[^\\n]*\\n[^\\n]*" +
      "FileScan parquet [^\\n]*orders.*"), plan)
    // the per-customer window suite still runs behind hash exchanges
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 1, plan)
  }

  test("q2: correlated-subquery rewrite broadcasts every join side") {
    val plan = planOf("q2_best_supplier")
    assert(!plan.contains("CartesianProduct"), plan)
    // nation, region, AND the per-region max all broadcast — the
    // supplier fact never shuffles to meet a dimension
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q8: double-correlation resolves without a cartesian or global sort") {
    val plan = planOf("q8_last_shipper")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the EXISTS/NOT-EXISTS pair is ONE per-order aggregate joined back
    // on the order key; the only global structure is the final top-10
    assert("Exchange SinglePartition".r.findAllIn(plan).isEmpty ||
      plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q9: RANGE frame runs behind one customer-key exchange") {
    val plan = planOf("q9_range_frame")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // no single-partition exchange before the window: the frame is
    // per-customer, so the sort is in-partition
    assert("Exchange SinglePartition".r.findAllIn(plan).isEmpty, plan)
    assert(plan.contains("Window"), plan)
  }

  test("p69: benchmark gram index joins broadcast; corpus never cartesians") {
    val plan = planOf("p69_fuzzy_decontaminate")
    assert(!plan.contains("CartesianProduct"), plan)
    // the candidate join (corpus grams x bench gram index) and the bench
    // size join are broadcasts — the corpus side shuffles only for its
    // own hash aggregations, never to meet the benchmark
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q11: exclusion list and part dim broadcast around the distinct agg") {
    val plan = planOf("q11_supplier_diversity")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the NOT IN rewrite must be a broadcast ANTI join, not a shuffle
    assert(plan.contains("BroadcastHashJoin LeftAnti") ||
      plan.contains("LeftAnti, BuildRight"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q13: the star join pays one fact exchange; dims broadcast") {
    val plan = planOf("q13_bloc_volume")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // supplier and customer broadcast; lineitem-orders may SMJ or
    // broadcast depending on stats, but NOTHING may serialize
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("Exchange SinglePartition".r.findAllIn(plan).isEmpty, plan)
  }

  test("q15: both aggregation levels share the part-key exchange") {
    val plan = planOf("q15_dominant_supplier")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the per-(part,supplier) agg shuffles on (part, supp); the
    // per-part re-agg and the comparison join must NOT introduce a
    // single-partition stage
    assert("Exchange SinglePartition".r.findAllIn(plan).isEmpty, plan)
  }

  test("q16: disjunctive predicate keeps the broadcast hash join") {
    val plan = planOf("q16_disjunctive_revenue")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the OR-of-ANDs must ride the equi-join as a residual filter, not
    // degrade the join itself to a nested loop
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q22: EXISTS decorrelates to a semi join, lateness as residual") {
    val plan = planOf("q22_late_orders_exists")
    // the non-equi lateness predicate must NOT force a nested loop: the
    // order-key equality carries the join, the date comparison rides it
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftSemi"), plan)
    assert("Exchange SinglePartition".r.findAllIn(plan).isEmpty, plan)
  }

  test("q24: date and quantity predicates reach the parquet scan") {
    val df = SparkEntry.queries("q24_forecast_revenue")(spark, sf)
    try {
      val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      val li = scans.find(_.contains("lineitem")).getOrElse("")
      assert(li.contains("PushedFilters"), li)
      assert(li.contains("l_shipdate") && li.contains("l_quantity"), li)
      // only the referenced columns are read
      assert(!li.contains("l_orderkey"), li)
    } finally CacheScope.releaseAll()
  }

  test("q25: one fact exchange; every dimension side broadcasts") {
    val plan = planOf("q25_market_share")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // customer/nation/region/supplier all broadcast; the only allowed
    // shuffle joins involve the fact; nothing serializes
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("Exchange SinglePartition".r.findAllIn(plan).isEmpty, plan)
  }

  test("q28: INTERSECT/EXCEPT reduce to key sets before joining") {
    val plan = planOf("q28_set_algebra")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // set semantics = distinct aggregates + semi/anti joins; the only
    // single-partition stage allowed is the final ORDER BY
    assert(plan.contains("LeftSemi") || plan.contains("LeftAnti"), plan)
  }

  test("q26: CUBE plans one Expand, not one pass per grouping set") {
    val plan = planOf("q26_cube_lattice")
    assert("Expand".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("Union"), plan)
  }

  test("q35: Q9-shaped profit pays one fact exchange; all dims broadcast") {
    val plan = planOf("q35_nation_profit")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 3, plan)
    // the fact shuffles once, on the (nation, year) agg key; the final
    // ORDER BY's range exchange is the only other repartitioning
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }

  test("p109: prefix join never cartesians; shingles shuffle on keys only") {
    val plan = planOf("p109_jaccard_prefix_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the r15 class, pinned by NAME at gate SF: every join side in the
    // prefix join is corpus-scale (shingles, df table, sizes, prefixes)
    // and merge-hinted — a broadcast ANYWHERE here means a hint was
    // dropped and the 100×/1000× plan would OOM the driver (the static
    // planner misestimates deep parquet plans small; AQE cannot demote
    // a static broadcast). The 1000× census measured zero broadcasts —
    // this assert keeps it true without regenerating the corpus.
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("p134: containment prefix join never cartesians; probe is an equi-join") {
    val plan = planOf("p134_containment_prefix_join")
    // the directed size prune rides the shingle equi-join as a residual
    // condition — it must never surface as a nested-loop theta join
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // zero broadcasts, same rationale (and 1000× census) as p109's pin
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("whole surface: zero CartesianProduct in any declared query's plan") {
    // the per-round manual Explain census as a NAMED test: a theta join
    // that degrades to a cartesian anywhere in the 285-query surface now
    // fails here, by query name, instead of waiting for a human sweep.
    // Rides the ONE shared walk (SurfaceWalk) so the eager builder side
    // effects run once per test JVM, and a builder that throws is
    // reported by name rather than aborting the suite.
    val offenders = SurfaceWalk.facts.toSeq.sortBy(_._1).flatMap {
      case (name, f) =>
        f.failure.map(e => s"$name: plan build failed: $e").toSeq ++
          (if (f.cartesian) Seq(s"$name: CartesianProduct") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("whole surface: zero RAW static BROADCAST hints; bounded classes allowlisted") {
    // the r15 class, pinned by NAME across all 285 queries: a static
    // broadcast() of a corpus-∝ relation is correct and fast at every
    // reachable test tier (the side fits), which is exactly how ~22 such
    // sites survived three rounds of per-query review — and a guaranteed
    // un-demotable OOM at the 100 TB design point. Post-r18-sweep:
    //  - `raw` (no cardinality bound — the deleted q-family class) has
    //    NO allowlist mechanism at all; any re-hinted raw side fails.
    //  - `prefix` (vec_id/doc_id < k literal query sets) and `mod<k>`
    //    (the % 50 centroid/benchmark fixture rule, bounded by the
    //    operators' model-scale CONTRACT — |centroids| and |benchmark|
    //    are hyperparameters at 100 TB, and the same relations already
    //    feed bounded driver folds) must match this explicit allowlist
    //    EXACTLY, so a new hinted site fails by query name even when
    //    its filter shape looks bounded.
    val prefixE = Set("embeddings:prefix")
    val modE = Set("embeddings:mod50")
    val bothE = prefixE ++ modE
    val allowlist: Map[String, Set[String]] = Map(
      // fixed-k ANN/eval query sets (vec_id < 5..50, doc_id < 1000)
      "p6_ann_topk" -> prefixE, "p7_ann_threshold" -> prefixE,
      "p8_ann_bucketed" -> prefixE, "p111_mmr_rerank" -> prefixE,
      "p80_semantic_decontaminate" -> prefixE,
      // model-scale centroid/codebook rule (vec_id % 50 = 0)
      "p120_ivf_append" -> modE, "p123_hnsw_recall" -> modE,
      "p133_pq_train" -> modE, "p35_embed_pq" -> modE,
      "p136_ann_cost_census" -> modE,
      "p139_planted_assignment_audit" -> modE, "p28_semantic_dedup" -> modE,
      "p52_kmeans_step" -> modE,
      "p61_knn_graph" -> modE, "p63_mutual_knn_components" -> modE,
      "p64_knn_label_purity" -> modE, "p68_hard_negatives" -> modE,
      "p83_knn_pagerank" -> modE, "p86_knn_triangles" -> modE,
      "p87_margin_mining" -> modE, "p95_ivf_balance" -> modE,
      // model-scale benchmark slices over documents (doc_id % 50)
      "p25_decontaminate" -> Set("documents:mod50"),
      "p32_curation_pipeline" -> Set("documents:mod50"),
      // queries with BOTH a fixed-k query set and the centroid rule
      // (p14/p132's former prefix entries went STALE in r19: the
      // key-cardinality walk now discharges those paths outright)
      "p14_ann_ivf" -> modE, "p92_ann_recall" -> bothE,
      "p132_ivfpq_topk" -> modE, "p135_ivfpq_recall" -> bothE,
      "p37_pq_adc_topk" -> bothE,
      "p137_planted_ivfpq_recall" -> bothE,
      // ---- r19 key-cardinality classes (`group-*`: the reported bound
      // is the ndv of a grouping/partition key, not scan rows). Each
      // entry's adjudication, from the BroadcastCensus chains:
      //  - p106: broadcast of the n_chars cumulative ECDF — keyed by the
      //    VALUE histogram; ndv ≤ the value domain (max document
      //    length), never corpus rows (ksAudit's documented shape).
      //  - p112: broadcast of the apriori frequent-item table — items
      //    need doc-support ≥ N/5, so |items| ≤ 5·E[words/doc], a
      //    data-model constant (the apriori prune IS the bound).
      //  - p119/p122/p75/p90: per-DIM calibration/covariance tables
      //    keyed by posexplode position of the fixed-64-dim embedding
      //    array — ndv = the model dimension, corpus-independent.
      //  - p79/p82: the df/idf tables — grouped by word AFTER the
      //    semi-join onto the prefix query set's vocabulary (bm25TopK
      //    builds df over query terms only, never the full vocabulary).
      //  - p69/p128: grouped traces that bottom out on the % 50
      //    benchmark/centroid slice — the same model-scale contract as
      //    their plain mod50 entries above.
      //  - q30: cohort-week keys — ndv = the fixture's TIME window in
      //    weeks, a domain of the data model, not a corpus fraction.
      //  - q6b: the hundred-dollar coarse price histogram — ndv ≤ the
      //    o_totalprice domain / 100 (the two-level order-statistic
      //    design's documented first level).
      //  - s2/s2b: fully prefix-bounded envelope slice (event_id < 3000);
      //    the broadcast is the produce route's (block, route class)
      //    summary, keyed (s2) or keyless (s2b) alike.
      "p106_ks_test" -> Set("documents:group-raw"),
      "p112_association_rules" -> Set("documents:group-raw"),
      "p119_sq8_quantize" -> Set("embeddings:group-raw"),
      "p122_sq8_recall" -> (prefixE + "embeddings:group-raw"),
      "p75_embedding_audit" -> Set("embeddings:group-raw"),
      "p90_embed_covariance" -> Set("embeddings:group-raw"),
      "p79_bm25_topk" -> Set("documents:prefix", "documents:group-raw"),
      "p82_hybrid_rrf" -> (prefixE +
        "documents:prefix" + "documents:group-raw"),
      "p69_fuzzy_decontaminate" ->
        Set("documents:mod50", "documents:group-mod50"),
      "p128_hnsw_append_audit" -> (modE + "embeddings:group-mod50"),
      "q30_retention_cohorts" -> Set("events:group-raw"),
      "q6b_quartile_cutoffs" -> Set("orders:group-raw"),
      "s2_message_builder" -> Set("events:group-prefix"),
      "s2b_keyless_rr" -> Set("events:group-prefix"))
    val offenders = SurfaceWalk.facts.toSeq.sortBy(_._1).flatMap {
      case (name, f) =>
        f.failure.map(e => s"$name: plan build failed: $e").toSeq ++ {
          // direct `raw` = scan rows with no bound: NEVER allowlistable.
          // `group-raw` is different evidence (a KEY's ndv, adjudicable
          // by domain contract) and goes through the allowlist — the
          // split parses the CLASS after the last ':' so it can't drift
          // with tag naming.
          val raw = f.scalingBroadcasts.filter(
            _.split(':').last == "raw")
          val bounded = f.scalingBroadcasts.toSet -- raw
          val allowed = allowlist.getOrElse(name, Set.empty)
          raw.map(r => s"$name: RAW static broadcast of $r") ++
            (bounded -- allowed).map(b => s"$name: unallowlisted $b") ++
            (allowed -- bounded).map(a => s"$name: stale allowlist entry $a")
        }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("whole surface: global windows over SF-scaling inputs match the adjudicated allowlist") {
    // the corpus-scale subclass of the Exchange SinglePartition census,
    // pinned where it is DECIDABLE: a Window with an empty partitionSpec
    // serializes its whole input through one task, so one over an
    // unaggregated SF-scaling scan is a 100 TB wall. r19 made the walk
    // input-cardinality-aware (rn ≤ k rank bounds, grouped-collapse key
    // tracing, generator/clamp/domain discharges), which RETIRED the r18
    // entries for p72 (the ≤2k-row KMV union — now walk-decided), p35/
    // p37 (synthetic-hint collector artifacts), and — after genuine
    // re-plans — p108/p60/p116's vocabulary-/score-scale windows (now
    // TakeOrdered / two-level prefix sums). The allowlist is a MULTISET:
    // each entry pins the exact COUNT of global windows reaching that
    // (table, class), so a second raw window added to an allowlisted
    // query fails instead of riding the existing entry (the r18 masking
    // hole). Current adjudications:
    //  - q6 ×1: the DELIBERATE single-partition ntile teaching variant
    //    (q6b is the production two-level order-statistic path);
    //  - p105 ×2: rankSumAudit's one global rank window — the declared
    //    (value, id) total order that makes U exact is a whole-input
    //    sort by definition, rankSumAudit's documented shape; the count
    //    is 2 because rankSumAudit instantiates the ranked subtree
    //    twice in one plan (main path + the broadcast totals —
    //    exchange reuse collapses them at execution);
    //  - p35 ×1 / p37 ×2: Lloyd/codebook init windows over the % 50
    //    centroid slice — model-scale by the operators' contract (the
    //    same adjudication as their broadcast mod50 entries). These are
    //    REAL window-input scans: the r19 direct walk (no synthetic
    //    hint collector) reports them with the mod50 chain as evidence;
    //  - p106 ×1: the n_chars cumulative ECDF — keyed by the VALUE
    //    histogram, ndv ≤ the length domain (ksAudit's documented shape);
    //  - q6b ×2: the coarse hundred-dollar price histogram's cumsum and
    //    rank — ndv ≤ price domain / 100, the design's first level;
    //  - s17 ×1: the replicated-subscription UPDATE ranking — a
    //    control-plane marker slice, schedule-scale by the reference's
    //    snapshot contract, never the data path;
    //  - s2 ×1 / s2b ×1: envelope teaching slices fully bounded by
    //    event_id < 3000 (the walk proves it: class group-prefix); each
    //    is the produce route's global block-prefix window over its
    //    (block, route class) summary.
    val allowlist: Map[String, Map[String, Int]] = Map(
      "q6_window_suite" -> Map("orders:raw" -> 1),
      "p105_rank_sum" -> Map("documents:raw" -> 2),
      "p35_embed_pq" -> Map("embeddings:mod50" -> 1),
      "p37_pq_adc_topk" -> Map("embeddings:mod50" -> 2),
      "p106_ks_test" -> Map("documents:group-raw" -> 1),
      "q6b_quartile_cutoffs" -> Map("orders:group-raw" -> 2),
      "s17_replicated_subscription" -> Map("events:group-raw" -> 1),
      "s2_message_builder" -> Map("events:group-prefix" -> 1),
      "s2b_keyless_rr" -> Map("events:group-prefix" -> 1))
    val offenders = SurfaceWalk.facts.toSeq.sortBy(_._1).flatMap {
      case (name, f) =>
        f.failure.map(e => s"$name: plan build failed: $e").toSeq ++ {
          val got = f.globalWindowScans.groupBy(identity)
            .map { case (t, xs) => t -> xs.size }
          val allowed = allowlist.getOrElse(name, Map.empty)
          (got.keySet ++ allowed.keySet).toSeq.sorted.flatMap { tag =>
            (got.getOrElse(tag, 0), allowed.getOrElse(tag, 0)) match {
              case (g, a) if g == a => Nil
              case (g, a) if g > a => Seq(
                s"$name: $g global window(s) over $tag, $a adjudicated")
              case (g, a) => Seq(
                s"$name: stale allowlist count for $tag ($a adjudicated, $g found)")
            }
          }
        }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("static-broadcast detector: flags the retired hint classes, passes bounded ones") {
    // detector-tested in-spec (the OracleHygieneSpec discipline): the
    // exact shapes the r18 sweep deleted must FLAG as raw, the fixture's
    // bounded shapes must classify prefix/mod<k>, the bound-laundering
    // shapes (Not/Or around a bound, a bound on the other join side's
    // column) must stay raw, and the kept hint patterns must stay clean
    // — so a refactor that blinds the walk fails loudly.
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val n = spark.read.parquet(s"$sf/nation.parquet")
    def found(df: org.apache.spark.sql.DataFrame): Seq[String] =
      SurfaceWalk.scalingBroadcasts(df.queryExecution.analyzed)
    // raw dim hint (the q13/q17/q21 class)
    assert(found(o.join(broadcast(c),
      col("o_custkey") === col("c_custkey"))) === Seq("customer:raw"))
    // attribute-filtered fact hint: a filter is NOT a bound (q3's class —
    // its date filter keeps the side corpus-∝)
    assert(found(c.join(broadcast(o.filter(col("o_orderpriority") === "1-URGENT")),
      col("c_custkey") === col("o_custkey"))) === Seq("orders:raw"))
    // a LOWER bound is not a bound either
    assert(found(c.join(broadcast(o.filter(col("o_orderkey") > 10L)),
      col("c_custkey") === col("o_custkey"))) === Seq("orders:raw"))
    // semi-join probe hint (the q25 class)
    assert(found(o.join(broadcast(c.select(col("c_custkey"))),
      col("o_custkey") === col("c_custkey"), "left_semi")) === Seq("customer:raw"))
    // bounded prefix set (the ANN query-set class)
    assert(found(o.join(broadcast(c.filter(col("c_custkey") < 10L)),
      col("o_custkey") === col("c_custkey"))) === Seq("customer:prefix"))
    // modulo slice (the centroid-rule class) — modulus rides the tag, so
    // a denser slice (% 2) is a DIFFERENT tag and breaks the allowlist
    assert(found(o.join(broadcast(c.filter(col("c_custkey") % 50 === 0)),
      col("o_custkey") === col("c_custkey"))) === Seq("customer:mod50"))
    assert(found(o.join(broadcast(c.filter(col("c_custkey") % 2 === 1)),
      col("o_custkey") === col("c_custkey"))) === Seq("customer:mod2"))
    // bound-laundering shapes stay RAW: the complement of a prefix…
    assert(found(o.join(broadcast(c.filter(!(col("c_custkey") < 10L))),
      col("o_custkey") === col("c_custkey"))) === Seq("customer:raw"))
    // …an unbounded disjunction…
    assert(found(o.join(broadcast(
      c.filter(col("c_custkey") < 10L || col("c_custkey") > 5000L)),
      col("o_custkey") === col("c_custkey"))) === Seq("customer:raw"))
    // …and a filter ABOVE a join under the hint whose bound constrains
    // only the nation side's column: reference-scoped propagation must
    // not let it launder the customer scan (nation itself is non-scaling)
    assert(found(o.join(broadcast(
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_regionkey") < 5L)),
      col("o_custkey") === col("c_custkey"))) === Seq("customer:raw"))
    // bounded: nation is not an SF-scaling table
    assert(found(c.join(broadcast(n),
      col("c_nationkey") === col("n_nationkey"))).isEmpty)
    // bounded: a 1-row global aggregate of a corpus table (the q7/q12 class)
    assert(found(c.crossJoin(broadcast(
      o.agg(max(col("o_totalprice")).as("m"))))).isEmpty)
    // bounded: limit-k of a corpus table
    assert(found(c.join(broadcast(o.limit(5)),
      col("c_custkey") === col("o_custkey"), "left_semi")).isEmpty)
    // a merge hint on a corpus side is the CONVENTION, never flagged
    assert(found(o.join(c.hint("merge"),
      col("o_custkey") === col("c_custkey"))).isEmpty)
  }

  test("key-cardinality walk: grouped collapses, rank bounds, and their launderings") {
    // the r19 machinery, mutation-tested like the r18 broadcast battery:
    // every discharge rule must have a laundering twin that stays
    // flagged, so a refactor that blinds one rule fails by name here.
    import org.apache.spark.sql.expressions.Window
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def found(df: org.apache.spark.sql.DataFrame): Seq[String] =
      SurfaceWalk.scalingBroadcasts(df.queryExecution.analyzed)
    def wins(df: org.apache.spark.sql.DataFrame): Seq[String] =
      SurfaceWalk.globalWindowScans(df.queryExecution.analyzed)

    // the r18 DISCLOSED LIMIT, closed: a grouped aggregate over a
    // corpus-scale key no longer passes the collapse test under a hint
    assert(found(c.join(broadcast(o.groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("s"))),
      col("c_custkey") === col("o_custkey"))) === Seq("orders:group-raw"))
    // …HAVING on an AGGREGATE (count < 100) bounds nothing about the
    // key's ndv — it must not launder the group into a prefix tag…
    assert(found(c.crossJoin(broadcast(o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).filter(col("n") < 100))))
      === Seq("orders:group-raw"))
    // …but a mod-form key is an ABSOLUTE ndv bound (≤ k groups)…
    assert(found(c.crossJoin(broadcast(o.groupBy((col("o_orderkey") % 64)
      .as("b")).agg(count(lit(1)).as("n"))))).isEmpty)
    // …an equality/IN-pinned key discharges (bounds ndv, never rows)…
    assert(found(c.crossJoin(broadcast(
      o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))))).isEmpty)
    // …a clamp key discharges, a bare least() does NOT (unbounded below)
    assert(found(c.crossJoin(broadcast(o.groupBy(
      least(greatest(col("o_orderkey") % 1000000, lit(0L)), lit(10L)).as("b"))
        .agg(count(lit(1)).as("n"))))).isEmpty)
    assert(found(c.crossJoin(broadcast(o.groupBy(
      least(col("o_orderkey"), lit(10L)).as("b"))
        .agg(count(lit(1)).as("n"))))) === Seq("orders:group-raw"))
    // …and a TERNARY least around a clamp re-opens the bound (the extra
    // operand is unbounded below) — only the binary clamp discharges
    assert(found(c.crossJoin(broadcast(o.groupBy(
      least(greatest(col("o_orderkey") % 1000000, lit(0L)), lit(10L),
        col("o_custkey")).as("b"))
        .agg(count(lit(1)).as("n"))))) === Seq("orders:group-raw"))
    // domain-contract columns (the data model's categorical registries)
    // discharge; any other documents key stays live
    assert(found(c.crossJoin(broadcast(docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))))).isEmpty)
    assert(found(c.crossJoin(broadcast(docs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))))) === Seq("documents:group-raw"))
    // a FOLDABLE generator axis discharges (the bootstrap replica key);
    // a corpus-fed generator does not (exploded text)
    assert(found(c.crossJoin(broadcast(
      o.withColumn("rep", explode(sequence(lit(0), lit(63))))
        .groupBy(col("rep")).agg(count(lit(1)).as("n"))))).isEmpty)
    assert(found(c.crossJoin(broadcast(
      docs.withColumn("w", explode(split(col("text"), " ")))
        .groupBy(col("w")).agg(count(lit(1)).as("n")))))
      === Seq("documents:group-raw"))
    // a UNION contributes key values from EVERY branch: a bounded first
    // branch must not absolve a corpus-scale second branch…
    assert(found(c.crossJoin(broadcast(
      docs.filter(col("doc_id") < 100L).select(col("doc_id"))
        .union(docs.select(col("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n")))))
      === Seq("documents:group-raw"))
    // …while two bounded branches discharge outright (each branch's
    // prefix conjunct pins the key's ndv before the scan is reached)
    assert(found(c.crossJoin(broadcast(
      docs.filter(col("doc_id") < 100L).select(col("doc_id"))
        .union(docs.filter(col("doc_id") < 50L).select(col("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))))).isEmpty)

    // rank bounds: row_number() <= k above a GLOBAL window is a limit…
    def rnG(df: org.apache.spark.sql.DataFrame) = df.withColumn("rn",
      row_number().over(Window.orderBy(col("o_orderkey"))))
    assert(found(c.crossJoin(broadcast(rnG(o).filter(col("rn") <= 100))))
      .isEmpty)
    // …but rank() admits unboundedly many tied rows → stays raw…
    assert(found(c.crossJoin(broadcast(o.withColumn("rn",
        rank().over(Window.orderBy(col("o_orderpriority"))))
      .filter(col("rn") <= 100)))) === Seq("orders:raw"))
    // …a big or negated or disjoined bound is no bound…
    assert(found(c.crossJoin(broadcast(rnG(o).filter(col("rn") <= 5000))))
      === Seq("orders:raw"))
    assert(found(c.crossJoin(broadcast(rnG(o).filter(!(col("rn") <= 100)))))
      === Seq("orders:raw"))
    assert(found(c.crossJoin(broadcast(rnG(o)
      .filter(col("rn") <= 100 || col("rn") > 7000))))
      === Seq("orders:raw"))
    // …and a GROUPED rank bound is k·ndv(key): key pinned → bounded,
    // key corpus-scale → flagged as the key's class (the p72 shape)
    def rnP(df: org.apache.spark.sql.DataFrame) = df.withColumn("rn",
      row_number().over(Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderkey"))))
    assert(found(c.crossJoin(broadcast(rnP(o).filter(col("rn") <= 10 &&
      col("o_orderpriority") === "1-URGENT")))).isEmpty)
    assert(found(c.crossJoin(broadcast(rnP(o).filter(col("rn") <= 10))))
      === Seq("orders:group-raw"))

    // global-window census: the retired p72 KMV shape is now DECIDED —
    // a global window over the union of two key-pinned rank-bounded
    // sketches reports nothing…
    val ranked = o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"))))
      .filter(col("rn") <= 256)
    val u = ranked.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
      .union(ranked.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_orderkey"))).distinct()
      .withColumn("urn", row_number().over(Window.orderBy(col("o_orderkey"))))
    assert(wins(u).isEmpty)
    // …while a genuinely raw global window still fails, and TWO of them
    // count TWICE (the multiset pin that closes the same-tag mask)
    val w1 = o.withColumn("a",
      sum(col("o_totalprice")).over(Window.orderBy(col("o_orderkey"))))
    assert(wins(w1) === Seq("orders:raw"))
    assert(wins(w1.withColumn("b", count(lit(1)).over(
        Window.orderBy(col("o_totalprice"), col("o_orderkey")))))
      === Seq("orders:raw", "orders:raw"))
  }

  test("p127: host census is two key-local aggs, no join-back, no join at all") {
    val plan = planOf("p127_url_canonical_census")
    // canonicalization (percent normalization included) is string
    // surgery in the scan projection; the census is URL-within-host
    // then host — a join anywhere means a join-back regression
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("p129: append probes are hash equi-joins; base is never re-paired") {
    val plan = planOf("p129_minhash_append")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("domain contract: lang/source ndv is SF-invariant and bounded") {
    // SurfaceWalk.DomainColumns discharges grouping keys built only
    // from lang/source by DATA-MODEL contract (categorical domains,
    // never a corpus fraction). Unlike the form/filter discharges that
    // contract had no fixture-derived evidence — this leg supplies it:
    // ndv is MEASURED at both gate SFs, must be EQUAL across them
    // (rows grow 10×, the domain must not), and must sit under the
    // documented domain ceilings (ISO-639-ish lang registry ≤ 256,
    // crawl/source registry ≤ 4096). A fixture change that makes
    // either column scale with the corpus fails HERE by name, turning
    // the walk's domain discharge from trust-me into evidence-backed.
    val ceilings = Seq("lang" -> 256L, "source" -> 4096L)
    val ndv = Seq("sf0.01", "sf0.1").map { tag =>
      val d = spark.read.parquet(s"/root/testdata/$tag/documents.parquet")
      val row = d.agg(
        countDistinct(col("lang")).as("lang"),
        countDistinct(col("source")).as("source"),
        count(lit(1)).as("rows")).collect().head
      tag -> (row.getLong(0), row.getLong(1), row.getLong(2))
    }.toMap
    val (l1, s1, r1) = ndv("sf0.01"); val (l2, s2, r2) = ndv("sf0.1")
    assert(r2 > r1, "fixtures must actually scale for this leg to bite")
    assert(l1 === l2, s"ndv(lang) scaled with the corpus: $l1 -> $l2")
    assert(s1 === s2, s"ndv(source) scaled with the corpus: $s1 -> $s2")
    assert(l2 <= ceilings.head._2 && s2 <= ceilings(1)._2,
      s"domain ceilings exceeded: lang=$l2 source=$s2")
    // the contract names exactly these columns — a DomainColumns edit
    // without a matching evidence leg fails here too
    assert(SurfaceWalk.DomainColumns === Set("lang", "source"))
  }
}
