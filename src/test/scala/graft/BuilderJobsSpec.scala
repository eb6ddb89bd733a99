package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Query builders build plans; the Spark jobs one runs before its action
 * (measured branches, memo materializations, eager writes) are cost that
 * no plan dump shows. This ratchet holds the whole surface's build jobs
 * at sf0.001, counted by [[SurfaceWalk]] with [[Measure]] around each
 * builder call: a query may run build jobs only up to its entry in
 * `Allowed`, so the entries bound the totals too. Each entry is the
 * highest count seen over repeated walks; entries may only go down.
 */
class BuilderJobsSpec extends AnyFunSuite {

  // 22 queries, 251 jobs at most; every other query runs none. Two vary
  // from walk to walk with AQE's planning of their eager writes (parquet
  // at Produce.scala:158): m11_auto_produce ran 9 or 10, s1 18 or 19.
  private val Allowed: Map[String, Int] = Map(
    "m11_auto_produce" -> 10, "m9_registry_persist" -> 17,
    "p117_keep_longest" -> 16, "p123_hnsw_recall" -> 41,
    "p128_hnsw_append_audit" -> 45, "p132_ivfpq_topk" -> 17,
    "p137_planted_ivfpq_recall" -> 19, "p17_cosine_neardup" -> 2,
    "p18_dup_clusters" -> 3, "p34_bpe_tokenize" -> 2,
    "p51_leakage_free_split" -> 3, "p63_mutual_knn_components" -> 17,
    "p83_knn_pagerank" -> 3, "p91_pca_power" -> 9,
    "p99_image_dup_components" -> 7, "r12_join_fence" -> 3,
    "r13_draining_hashes" -> 2, "s10_sink_roundtrip" -> 1,
    "s16_bucketed_topic" -> 3, "s1_produce_roundtrip" -> 19,
    "t1_txn_roundtrip" -> 8, "u11_batch_cycles" -> 4)

  test("query builders run no more build jobs than the ratchet allows") {
    val jobs = SurfaceWalk.facts.toSeq.sortBy(_._1).map { case (n, f) => n -> f.buildJobs }
    val total = jobs.map(_._2).sum
    val running = jobs.count(_._2 > 0)
    val all = jobs.filter(_._2 > 0).map { case (n, j) => s"$n=$j" }.mkString(" ")
    info(s"$total build jobs; $running of ${jobs.size} queries run at least one: $all")
    val over = jobs.filter { case (n, j) => j > Allowed.getOrElse(n, 0) }
    assert(over.isEmpty, "over the allowlist: " + over.mkString(" ") + "; all: " + all)
  }
}
