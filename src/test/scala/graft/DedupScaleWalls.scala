package graft

import graft.pipeline.DedupOps
import org.apache.spark.sql.functions._

/** Rehearsal diagnostic for the two exact-dedup headliners: counts the
 * prefix joins' OWN candidate relations ([[DedupOps
 * .jaccardPrefixCandidates]] / [[DedupOps.containmentPrefixCandidates]]
 * — the same code p109/p134 execute, not a re-derivation) plus the
 * verified output pair counts, at the p109/p134 declared parameters
 * (n = 3, t = 0.5 / 0.7). These are the "candidate counts that justify
 * the walls" rows PLAN_AUDIT files next to the fresh-JVM Bench walls on
 * a ScaleGen `distinct`-mode corpus.
 * Run: sbt 'Test/runMain graft.DedupScaleWalls <corpusDir> [stages]'
 * where stages is a comma list from
 * {shingles,jcands,jpairs,ccands,cpairs} (default: all) — the 1000×
 * tier runs the cheap candidate counts first and the full joins only
 * as disk allows. */
object DedupScaleWalls {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Bench-style session, NOT TestSpark's local[4]/4-partition spec
    // session: the rehearsal joins shuffle tens of millions of shingle
    // rows, and walls filed from a 4-core 4-partition config would
    // measure the test harness, not the operator (the r18 review-pass
    // finding — the first 100× filing ran 8× under machine throughput).
    val spark = GraftSession.local(GraftSession.cpus)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    println(s"[walls] corpus=$dir docs=${docs.count()}")
    // LAZY and only tracked when an unstaged stage runs: persist()
    // registers the plan in the CacheManager immediately, and Spark
    // substitutes the cache into ANY later identical plan — so an eager
    // track here would silently route the jstaged parquet
    // materialization through a resident 260 M-row cache, defeating the
    // staged path's whole point (the r19 review-pass finding)
    lazy val sh = CacheScope.track(
      DedupOps.docShingles(docs, "doc_id", "text", 3))
    def timed(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[walls] $label%-22s $n%12d rows  ${(System.nanoTime() - t0) / 1e9}%8.1f s")
    }
    val stages = args.lift(1).map(_.split(',').toSet)
      .getOrElse(Set("shingles", "jcands", "jpairs", "ccands", "cpairs"))
    if (stages("shingles")) timed("shingles")(sh.count())
    if (stages("jcands")) timed("jaccard-candidates")(
      DedupOps.jaccardPrefixCandidates(sh, 500000L).count())
    if (stages("jpairs")) timed("jaccard-pairs")(
      DedupOps.jaccardPrefixJoin(docs, "doc_id", "text", 3, 500000L,
        preShingles = Some(sh)).count())
    if (stages("ccands")) timed("containment-cands")(
      DedupOps.containmentPrefixCandidates(sh, 700000L).count())
    if (stages("cpairs")) timed("containment-pairs")(
      DedupOps.containmentPrefixJoin(docs, "doc_id", "text", 3, 700000L,
        preShingles = Some(sh)).count())
    // jstaged<N>: the p109 verification join CHUNKED by shingle-hash
    // range into N sequential passes, so simultaneous shuffle is ~1/N of
    // the unstaged kernel — the r18 1000× run died on scratch disk (the
    // two merge-sorted passes of the 260 M-row shingle relation exceeded
    // ~49 GB free), not on candidate mass. Correct by associativity:
    // n_common(pair) = Σ over hash slices of the slice's common-shingle
    // count, so the per-pass partial pair counts sum to the exact kernel
    // (pairs with zero common shingles in a slice simply contribute no
    // row). The candidate and shingle relations are materialized ONCE to
    // scratch parquet (one derivation each, not N), each pass reads them
    // back with the slice filter. On a real cluster this is the same
    // trick an executor-disk-constrained shuffle would use (AQE cannot
    // re-plan a shuffle it cannot fit); here it converts the fourth
    // decade from arithmetic to measurement.
    stages.find(_.startsWith("jstaged")).foreach { st =>
      val n = st.stripPrefix("jstaged") match {
        case "" => 8
        case sfx => sfx.toIntOption.filter(_ >= 1).getOrElse(
          sys.error(s"jstaged wants a positive pass count, got '$st'"))
      }
      val scratch = Scratch.freshDir("jstaged")
      val t0 = System.nanoTime()
      // ONE parquet materialization read back per pass — no resident
      // cache (sh above is lazy, so nothing is registered in the
      // CacheManager when only jstaged runs; the staged relations live
      // on scratch disk, not heap)
      DedupOps.docShingles(docs, "doc_id", "text", 3)
        .write.mode("overwrite").parquet(s"$scratch/sh")
      val shP = spark.read.parquet(s"$scratch/sh")
      DedupOps.jaccardPrefixCandidates(shP, 500000L)
        .write.mode("overwrite").parquet(s"$scratch/cand")
      val candP = spark.read.parquet(s"$scratch/cand")
      println(f"[walls] jstaged$n staged inputs: cand=${candP.count()}%d " +
        f"sh=${shP.count()}%d  ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      (0 until n).foreach { p =>
        val tP = System.nanoTime()
        val slice = shP.filter(pmod(xxhash64(col("shingle")), lit(n)) === p)
        candP.select(col("doc_a"), col("doc_b"))
          .join(slice.select(col("doc").as("doc_a"), col("shingle"))
            .hint("merge"), Seq("doc_a"))
          .join(slice.select(col("doc").as("doc_b"), col("shingle"))
            .hint("merge"), Seq("doc_b", "shingle"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("nc"))
          .write.mode("append").parquet(s"$scratch/partial")
        println(f"[walls] jstaged$n pass=$p%2d " +
          f"${(System.nanoTime() - tP) / 1e9}%8.1f s")
      }
      timed(s"jstaged$n-pairs") {
        val total = spark.read.parquet(s"$scratch/partial")
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(sum(col("nc")).as("n_common"))
          .join(candP.hint("merge"), Seq("doc_a", "doc_b"))
          .filter(expr(
            "(n_common * 1000000) div (size_a + size_b - n_common)") >=
            500000L)
        total.count()
      }
      Scratch.rm(scratch)
    }
    CacheScope.releaseRun() // releaseRun subsumes releaseAll
    println("[walls] done")
  }
}
