package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Query builders build plans; the Spark jobs one runs before its action
 * (schema inference, measured branches, memo materializations) are cost
 * that no plan dump shows. This ratchet holds the whole surface's build
 * jobs at sf0.001, counted by [[SurfaceWalk]] with [[Measure]] around each
 * builder call. The bounds are the counts when the spec was added; they
 * may only go down.
 */
class BuilderJobsSpec extends AnyFunSuite {

  // 554 or 555: m11_auto_produce's eager append, an AQE-planned write at
  // Produce.scala:158, runs 10 or 11 jobs from one run to the next
  private val MaxBuildJobs = 555
  private val MaxQueriesWithBuildJobs = 194

  test("query builders run no more build jobs than the ratchet allows") {
    val jobs = SurfaceWalk.facts.toSeq.sortBy(_._1).map { case (n, f) => n -> f.buildJobs }
    val total = jobs.map(_._2).sum
    val running = jobs.count(_._2 > 0)
    info(s"$total build jobs; $running of ${jobs.size} queries run at least one")
    lazy val perQuery = jobs.filter(_._2 > 0).map { case (n, j) => s"$n=$j" }.mkString(" ")
    assert(total <= MaxBuildJobs && running <= MaxQueriesWithBuildJobs,
      s"build jobs per query: $perQuery")
  }
}
